package graft.mine

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** DataFrame-level mining operators (M1-M4 in SURVEY.md §2.6) and the
  * broadcast template matcher (J1, §2.4).
  *
  * Two execution modes, mirroring SURVEY §4.3:
  *
  *  - '''exact''': the algorithm is order-dependent, so reference-faithful
  *    output requires a total order on ONE partition. That is inherently a
  *    sequential tail — used for fidelity tests and small corpora, never
  *    the scale path.
  *  - '''parallel''': one tree per partition (embarrassingly parallel over
  *    the 100 TB scan), then a fixed-order fold of the partition trees:
  *    groups of [[FanIn]] consecutive partitions fold on the executors
  *    until at most [[FanIn]] trees remain, and those fold on the driver
  *    in partition order. [[DrainTree.merge]] depends on order, so the
  *    order comes from the input partitioning alone, never from task
  *    completion: a given partitioning always yields the same clusters.
  *    Each tree is O(#clusters) — kilobytes, not data-sized — so the fold
  *    moves trivial state. Cluster IDs are synthetic in this mode;
  *    (template, size) content is the stable surface.
  *
  * Matching (assignment of lines to a FIXED mined template set) is the
  * embarrassingly-parallel half of the pipeline: the tree is broadcast
  * once per executor and probed per line — a broadcast join in spirit,
  * with the prefix-tree probe playing the hash lookup.
  */
object TemplateMining {

  /** Trees per fold group in [[mineParallel]]: the driver folds at most
    * this many, and each executor-side level divides the count by it. */
  private val FanIn = 8

  /** Exact (reference-faithful) mining: global sort on `order`, single
    * partition, one tree. */
  def mineExact(lines: DataFrame, lineCol: String, order: Seq[Column]): Dataset[EventTemplate] = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines
      .select((col(lineCol).as("line") +: order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }): _*)
      .repartition(1)
      .sortWithinPartitions(order.indices.map(i => col(s"__o$i")): _*)
      .select(col("line")).as[String]
      .mapPartitions(it => buildTree(it).clusters.iterator)
  }

  /** Parallel mining: one tree per input partition, then the fixed-order
    * fold described above. An executor-side level shuffles only the trees,
    * keyed by partition index, so the scan keeps its own task parallelism
    * (a narrow `coalesce` would pull every tree build into the group
    * tasks); each group folds in ascending partition index. */
  def mineParallel(lines: DataFrame, lineCol: String): Dataset[EventTemplate] = {
    val spark = lines.sparkSession
    import spark.implicits._
    var trees: RDD[DrainTree] = lines.select(col(lineCol)).as[String].rdd
      .mapPartitions(it => Iterator.single(buildTree(it)))
    while (trees.getNumPartitions > FanIn) {
      val groups = new ConsecutiveGroups((trees.getNumPartitions + FanIn - 1) / FanIn)
      trees = trees
        .mapPartitionsWithIndex((i, it) => it.map(t => (i, t)))
        .partitionBy(groups)
        .mapPartitions(it => Iterator.single(fold(it.toSeq.sortBy(_._1).iterator.map(_._2))))
    }
    spark.createDataset(fold(trees.collect().iterator).clusters)
  }

  /** The per-partition tree builder of both modes. */
  private def buildTree(lines: Iterator[String]): DrainTree = {
    val tree = new DrainTree()
    lines.foreach(l => tree.addLogMessage(if (l == null) "" else l))
    tree
  }

  /** Folds `trees` into an empty tree in iteration order. */
  private def fold(trees: Iterator[DrainTree]): DrainTree =
    trees.foldLeft(new DrainTree())(_ merge _)

  /** Sends partition index `i` to fold group `i / FanIn`. */
  private final class ConsecutiveGroups(val numPartitions: Int) extends Partitioner {
    override def getPartition(key: Any): Int = key.asInstanceOf[Int] / FanIn
  }

  /** Build a probe tree from a mined template table (e.g. a persisted
    * `Dataset[EventTemplate]` — M4's batch state store). Clusters are
    * restored VERBATIM: ids, sizes and templates survive a
    * save → restore → match round-trip unchanged. */
  def treeFromTemplates(templates: Seq[EventTemplate]): DrainTree = {
    val tree = new DrainTree()
    templates.sortBy(_.eventId).foreach(tree.restore)
    tree
  }

  /** J1 as a DETERMINISTIC equi-join on a precomputed eventId key — the
    * oracle-able variant SURVEY §2.4 promises. The template key is the
    * line with digit-bearing tokens masked to `<*>` (Drain's
    * `parametrizeNumericTokens` as a pure, order-independent string
    * transform: no similarity clustering, so two engines agree exactly);
    * the template table assigns dense ids in template order; matching is
    * a broadcast equi-join on the key. Returns `(event_id, template,
    * cnt)` ordered by id. The single-partition row_number window runs on
    * the DISTINCT-template frame only — bounded by template-vocabulary
    * size, never corpus-sized. */
  def exactMatchCounts(lines: DataFrame, lineCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmpl = array_join(
      transform(split(trim(col(lineCol)), "\\s+"),
        t => when(t.rlike("\\d"), lit("<*>")).otherwise(t)), " ")
    val keyed = lines.select(tmpl.as("template"))
    val templates = keyed.distinct()
      .withColumn("event_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("template")))
        .cast("long"))
    keyed.join(broadcast(templates), "template")
      .groupBy(col("event_id"), col("template"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("event_id"))
  }

  /** J1: assign each line its owning template id by probing a broadcast
    * tree. Unmatched lines keep a null `eventId` (total function —
    * SURVEY.md §2.8). Output = input columns + `eventId`. */
  def matchLines(lines: DataFrame, lineCol: String, tree: DrainTree): DataFrame = {
    val spark = lines.sparkSession
    val bc = spark.sparkContext.broadcast(tree)
    val matchUdf = org.apache.spark.sql.functions.udf { (s: String) =>
      val id = bc.value.matchLine(if (s == null) "" else s)
      if (id < 0) None else Some(id)
    }
    lines.withColumn("eventId", matchUdf(col(lineCol)))
  }
}
