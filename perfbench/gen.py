"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_tables``: the ten parquet tables the queries read (the
  star-schema spine, ``events``, ``documents`` and ``embeddings``), with the
  shapes and value ranges of the repository's sf0.1 test data (TESTDATA.md,
  FIXTURES.md section 8) scaled by ``sf``.
* ``write_log_corpus``: a Hadoop-grammar log corpus (FIXTURES.md sections
  1-2): nested ``container_*.log`` files, a decoy ``syslog.txt`` per
  application, about 3% continuation lines and Zipf-skewed templates with
  numeric, attempt, container and host parameters.

Everything runs in this one process on one thread.
"""
import datetime
import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]


def _days(lo, hi, n, rng):
    """n uniform day-resolution timestamps in [lo, hi] as datetime64[us]."""
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir, sf, seed):
    """Write region, nation, customer, supplier, part, orders, lineitem,
    events, documents and embeddings at scale ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 1), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = max(int(15_000 * sf), 1)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(1000.0, 500000.0, n_ord, rng),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, n_li, rng),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng)})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: word soup; every 20th is a near-duplicate (an earlier text
    # plus " dup") and every 500th an exact duplicate, as the near-dup
    # operators expect. Fixed positions keep the duplicate mass the same
    # for every seed.
    texts = []
    for i in range(n_doc):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i % 500 == 250:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_li,
            "events": n_ev, "documents": n_doc, "embeddings": n_emb}


# ---- Hadoop-grammar log corpus -------------------------------------------

LOGGERS = [
    "org.apache.hadoop.mapreduce.v2.app.MRAppMaster",
    "org.apache.hadoop.mapreduce.v2.app.rm.RMContainerAllocator",
    "org.apache.hadoop.mapreduce.v2.app.rm.RMCommunicator",
    "org.apache.hadoop.mapreduce.v2.app.job.impl.TaskAttemptImpl",
    "org.apache.hadoop.mapreduce.v2.app.job.impl.TaskImpl",
    "org.apache.hadoop.mapreduce.v2.app.job.impl.JobImpl",
    "org.apache.hadoop.mapreduce.v2.app.launcher.ContainerLauncherImpl",
    "org.apache.hadoop.mapreduce.v2.app.speculate.DefaultSpeculator",
    "org.apache.hadoop.mapreduce.jobhistory.JobHistoryEventHandler",
    "org.apache.hadoop.mapred.Task", "org.apache.hadoop.mapred.MapTask",
    "org.apache.hadoop.mapred.ReduceTask", "org.apache.hadoop.mapred.YarnChild",
    "org.apache.hadoop.mapred.TaskAttemptListenerImpl",
    "org.apache.hadoop.mapreduce.task.reduce.Fetcher",
    "org.apache.hadoop.mapreduce.task.reduce.MergeManagerImpl",
    "org.apache.hadoop.mapreduce.task.reduce.ShuffleSchedulerImpl",
    "org.apache.hadoop.mapreduce.task.reduce.EventFetcher",
    "org.apache.hadoop.ipc.Client", "org.apache.hadoop.ipc.Server",
    "org.apache.hadoop.hdfs.DFSClient", "org.apache.hadoop.hdfs.LeaseRenewer",
    "org.apache.hadoop.yarn.event.AsyncDispatcher",
    "org.apache.hadoop.yarn.util.RackResolver",
    "org.apache.hadoop.yarn.client.api.impl.ContainerManagementProtocolProxy",
    "org.apache.hadoop.metrics2.impl.MetricsSystemImpl",
    "org.apache.hadoop.metrics2.impl.MetricsConfig",
    "org.apache.hadoop.conf.Configuration.deprecation",
    "org.apache.hadoop.security.SecurityUtil",
    "org.apache.hadoop.util.NativeCodeLoader",
    "org.apache.hadoop.service.AbstractService",
    "org.apache.hadoop.http.HttpServer2", "org.apache.hadoop.http.HttpRequestLog",
    "org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter",
    "org.apache.hadoop.mapreduce.v2.app.client.MRClientService",
    "org.apache.hadoop.mapreduce.v2.app.commit.CommitterEventHandler",
    "org.apache.hadoop.mapreduce.security.token.JobTokenSecretManager",
    "org.mortbay.log", "org.apache.hadoop.net.NetUtils",
    "org.apache.hadoop.io.retry.RetryInvocationHandler",
]
MSG_WORDS = (
    "adding assigned attempt block blocks buffer bytes cache cancelling "
    "capacity checkpoint cleanup client closing commit completed connection "
    "container containers copy created credentials deleted dispatcher done "
    "event events exceeded failed failing fetch fetcher file finished "
    "finishing flush forcing from handler heartbeat host immediate in input "
    "interval job jobs kill killed launched launching limit local lost map "
    "maps memory merge merged merging missing new node nodes not of on output "
    "path pending preempted progress queue received reduce reducer reduces "
    "registered releasing remote report request requested resource retry "
    "running scheduled scheduler segment segments sending server service "
    "shuffle shutting size skipped slow socket spill spilled started "
    "starting state status stopped stopping submitted succeeded task tasks "
    "thread timeout to token transitioned unregistered update uploading "
    "using waiting with write writing").split()
# A log statement runs on one kind of thread, so each template owns one;
# numbered threads get a fresh number per line.
THREADS = ["[main]"] * 6 + ["[AsyncDispatcher event handler]", "[RMCommunicator Allocator]",
                            "[CommitterEvent Processor #{n}]", "[IPC Server handler {n} on 46543]",
                            "[fetcher#{n}]", "[ContainerLauncher #{n}]", "[uber-SubtaskRunner]",
                            "[eventpoller]"]
LEVELS = ["INFO"] * 90 + ["WARN"] * 6 + ["ERROR"] * 3 + ["FATAL"]
STACK = [
    "java.io.IOException: Connection reset by peer",
    "java.net.ConnectException: Connection refused",
    "org.apache.hadoop.fs.FSError: java.io.IOException: There is not enough space on the disk",
    "Container killed on request. Exit code is 137",
    "Container exited with a non-zero exit code 1",
]
FRAMES = ["org.apache.hadoop.ipc.Client.call", "org.apache.hadoop.ipc.Client$Connection.setupIOstreams",
          "org.apache.hadoop.mapred.YarnChild$2.run", "java.security.AccessController.doPrivileged",
          "org.apache.hadoop.mapred.MapTask.runNewMapper", "sun.nio.ch.SocketChannelImpl.read"]


def _templates(rnd, n):
    """n message skeletons: a thread, a logger and 3-14 tokens, one in five a
    parameter. Shape (thread, logger, length, parameter count) follows the
    Zipf rank, so every seed gives a corpus of about the same size; the words
    and parameter positions come from the seed."""
    kinds = ["{attempt}", "{container}", "{host}", "{num}"]
    out = []
    for i in range(n):
        length = 3 + i % 12
        toks = [rnd.choice(MSG_WORDS) for _ in range(length)]
        for j, pos in enumerate(rnd.sample(range(length), length // 5)):
            toks[pos] = kinds[(i + j) % len(kinds)]
        out.append((THREADS[i % len(THREADS)], LOGGERS[i % len(LOGGERS)], toks))
    return out


def _fill(tok, rnd, app):
    if tok == "{num}":
        return str(rnd.randrange(100_000))
    if tok == "{attempt}":
        return f"attempt_1445062781478_{app:04d}_{rnd.choice('mr')}_{rnd.randrange(1000):06d}_{rnd.randrange(4)}"
    if tok == "{container}":
        return f"container_1445062781478_{app:04d}_01_{rnd.randrange(1, 100):06d}"
    if tok == "{host}":
        return f"MININT-{rnd.randrange(64):02d}.fareast.corp.example.com:{rnd.randrange(1024, 65536)}"
    return tok


APPS, CONTAINERS = 4, 4  # applications, and container logs in each
TEMPLATES, ZIPF = 900, 1.1  # distinct message skeletons and their rank skew


def write_log_corpus(root, lines, seed):
    """Write ``lines`` container-log lines under ``root`` (plus decoy
    syslog.txt files that the container_*.log glob must skip).  Returns the
    manifest: lines and bytes in container files, and a sha256 over every
    written file (relative path and content) in sorted order."""
    rnd = random.Random(f"corpus-{seed}")
    tmpl = _templates(rnd, TEMPLATES)
    weights = [1.0 / (i + 1) ** ZIPF for i in range(TEMPLATES)]
    picks = rnd.choices(range(TEMPLATES), weights=weights, k=lines)
    files = APPS * CONTAINERS
    per_file = [lines // files + (1 if f < lines % files else 0) for f in range(files)]
    t0 = datetime.datetime(2015, 10, 17, 15, 37, 56)
    written, pos, nbytes = [], 0, 0
    for f in range(files):
        app, c = f // CONTAINERS + 1, f % CONTAINERS + 1
        d = os.path.join(root, f"application_1445062781478_{app:04d}",
                         f"container_1445062781478_{app:04d}_01_{c:06d}")
        os.makedirs(d, exist_ok=True)
        out, ms, k, n = [], 0, 0, per_file[f]
        while k < n:
            ms += rnd.randrange(1, 400)
            ts = t0 + datetime.timedelta(milliseconds=ms)
            stamp = f"{ts:%Y-%m-%d %H:%M:%S},{ts.microsecond // 1000:03d}"
            level = rnd.choice(LEVELS)
            if level != "INFO" and rnd.random() < 0.08 and k + 1 < n:
                # an error with its continuation lines (no timestamp); ~3%
                # of all lines, as in the reference corpus
                out.append(f"{stamp} {level} [main] org.apache.hadoop.mapred.YarnChild: "
                           f"Exception running child : {rnd.choice(STACK)}")
                k += 1
                for _ in range(min(rnd.randrange(1, 7), n - k)):
                    fr = rnd.choice(FRAMES)
                    out.append(f"\tat {fr}({fr.split('.')[-2].split('$')[0]}.java:{rnd.randrange(10, 2000)})")
                    k += 1
                continue
            thread, logger, toks = tmpl[picks[pos + k]]
            msg = " ".join(_fill(t, rnd, app) for t in toks)
            out.append(f"{stamp} {level} {thread.format(n=rnd.randrange(64))} {logger}: {msg}")
            k += 1
        pos += n
        data = ("\n".join(out) + "\n").encode()
        path = os.path.join(d, f"container_1445062781478_{app:04d}_01_{c:06d}.log")
        with open(path, "wb") as fh:
            fh.write(data)
        nbytes += len(data)
        written.append(path)
        if c == 1:
            decoy = os.path.join(root, f"application_1445062781478_{app:04d}", "syslog.txt")
            with open(decoy, "w") as fh:
                fh.write("\n".join(out[: max(1, len(out) // 50)]) + "\n")
            written.append(decoy)
    h = hashlib.sha256()
    for p in sorted(written):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return {"lines": int(lines), "bytes": nbytes, "files": files, "digest": h.hexdigest()}
