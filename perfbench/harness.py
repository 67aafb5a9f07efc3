"""Pieces shared by the untraced and traced runs: the pinned
environment, set-up, the operation runner, inputs and output checks."""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TWEET_OPS = {
    "word_cloud": ["--save_word_cloud"],
    "full_graph": ["--save_full_graph"],
    "pbi_report": ["--save_pbi_report"],
    "neighbourhood": ["--id_neighbours"],
}

REGISTRY_OPS = [
    # relational and window SQL
    "pricing_summary",
    "regional_revenue",
    "shipping_priority",
    "window_topk_per_group",
    # LLM-data dedup, similarity and text
    "dedup_exact_hash",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "embed_cosine_topk",
    "embed_ivf_topk",
    "text_quality_score",
    "llm_prep_pipeline",
    # iterative graph
    "pagerank_trade_graph",
    "bfs_hops_trade",
    "lpa_communities",
]

WORKLOADS = ("tweet_graph", "operator_mix")


def load_spec() -> dict:
    with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as f:
        return json.load(f)


def pin_environment(work: str) -> None:
    """The run environment recorded in spec.json. Must run before the
    first pyspark import: the driver JVM reads it at launch."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "4g",
            "SPARK_GRAFT_SHUFFLE_PARTITIONS": "8",
            "SPARK_GRAFT_UI": "false",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            # every JVM, the spark-submit launcher too: temp files in the
            # run's directory, no /tmp/hsperfdata file
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf(work: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap: G1 resizing otherwise moves peak RSS by a quarter
        # from run to run
        "spark.driver.extraJavaOptions": "-Xms4g",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def since_process_start() -> float:
    """Seconds since this process was started (forked), from /proc: the
    kernel's start time is in clock ticks on the boot-time clock."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def set_up(work: str, event_log: str | None = None):
    """Imports, session and first action: what a user waits for before
    the first operation. Returns (spark, seconds per phase); ``total``
    runs from process start, so it includes interpreter start-up."""
    t0 = time.perf_counter()
    import tvbigdataproject_spark.queries  # noqa: F401  (the registry)
    from tvbigdataproject_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=session_conf(work, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, {"imports": t1 - t0, "get_spark": t2 - t1, "first_query": t3 - t2,
                   "total": since_process_start()}


def stop_jvm(spark) -> None:
    """Stop the session and wait for the driver JVM (and the Python
    workers it started) to exit: closing its stdin is its exit signal."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def setup_probe(work: str) -> float:
    """Set-up of a fresh interpreter, from its process start; returns
    its seconds."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--setup-probe", work],
        cwd=ROOT, capture_output=True, text=True, timeout=150, check=True,
    )
    return float(proc.stdout.strip().splitlines()[-1])


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval)

    @staticmethod
    def tree_rss_kb(root_pid: int) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{name}/statm", encoding="ascii") as f:
                    pages = int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
            parent[int(name)] = int(fields[1])
            rss[int(name)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
        total, todo = 0, [root_pid]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total


# --- operations ---------------------------------------------------------------


class Runner:
    """Runs operations against one session and records each outcome.

    With ``group`` set, an operation's jobs run under that Spark job
    group and its wall-clock interval is kept in ``intervals``; with a
    ``tracer``, spans opened inside the operation nest under it."""

    def __init__(self, spark, inputs: dict, tracer=None) -> None:
        self.spark = spark
        self.inputs = inputs
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.intervals: dict[str, tuple[float, float]] = {}
        self.plan_s: dict[str, float] = {}
        self.exec_s: dict[str, float] = {}

    def _op(self, name: str, body, group: str | None) -> float | None:
        from tvbigdataproject_spark.session import release_session_caches

        sc = self.spark.sparkContext
        if self.tracer is not None:
            self.tracer.base_group = group or ""
        if group:
            sc.setJobGroup(group, name)
        release_session_caches(self.spark)
        self.attempted += 1
        w0, t0 = time.time(), time.perf_counter()
        try:
            with contextlib.redirect_stdout(io.StringIO()):
                body()
        except Exception as exc:  # one failed operation must not end the run
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
            return None
        finally:
            if group:
                self.intervals[group] = (w0, time.time())
                sc.setJobGroup("", "")
            if self.tracer is not None:
                self.tracer.release()
        return time.perf_counter() - t0

    def tweet_pass(self, out_dir: str, group: str | None = None) -> dict[str, float]:
        """One CLI invocation per artifact; returns seconds per artifact."""
        from tvbigdataproject_spark.__main__ import main

        seed = self.inputs["neighbourhood_seed"]
        base = [self.inputs["tweets"], "--output_path", out_dir]
        times = {}
        for name, flags in TWEET_OPS.items():
            argv = base + flags + ([seed] if name == "neighbourhood" else [])
            t = self._op(name, lambda: main(argv, spark=self.spark),
                         group and f"{group}/{name}")
            if t is not None:
                times[name] = t
        return times

    def registry_pass(self, collect: bool, group: str | None = None,
                      split_plan: bool = False):
        """Returns (seconds per query, collected rows per query). With
        ``split_plan`` the query's planning phases (QueryExecution's
        tracker) and its sink run are recorded apart."""
        from tvbigdataproject_spark.queries import REGISTRY

        sf = self.inputs["tables"]
        times, results = {}, {}
        for name in REGISTRY_OPS:
            fn = REGISTRY[name].fn

            def body(name=name, fn=fn):
                df = fn(self.spark, sf)
                if split_plan:
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    phases = qe.tracker().phases()
                    self.plan_s[name] = sum(
                        phases.apply(p).durationMs()
                        for p in ("analysis", "optimization", "planning")
                        if phases.contains(p)
                    ) / 1000.0
                t0 = time.perf_counter()
                if collect:
                    results[name] = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    df.write.format("noop").mode("overwrite").save()
                self.exec_s[name] = time.perf_counter() - t0

            t = self._op(name, body, group and f"{group}/{name}")
            if t is not None:
                times[name] = t
        return times, results


def parity_module():
    """tools/check_parity.py, the repository's oracle comparator."""
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(ROOT, "tools", "check_parity.py")
    )
    parity = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parity)
    return parity


def check_registry(results: dict, sf_dir: str) -> list[str]:
    """Compare collected rows with each query's DuckDB oracle, using the
    comparator of tools/check_parity.py."""
    import duckdb

    from tvbigdataproject_spark.queries import REGISTRY

    parity = parity_module()
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in parity.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    problems = []
    try:
        for name, (cols, rows) in results.items():
            try:
                res = con.execute(REGISTRY[name].sql)
            except duckdb.Error as exc:
                problems.append(f"{name}: oracle failed: {exc}")
                continue
            problems += compare_rows(
                name, cols, rows, [d[0] for d in res.description], res.fetchall(),
                parity.rows_to_multiset,
            )
    finally:
        con.close()
    return problems


def compare_rows(name, s_cols, s_rows, d_cols, d_rows, to_multiset) -> list[str]:
    if sorted(s_cols) != sorted(d_cols):
        return [f"{name}: columns {sorted(s_cols)} != oracle {sorted(d_cols)}"]
    if len(s_rows) != len(d_rows):
        return [f"{name}: {len(s_rows)} rows != oracle {len(d_rows)}"]
    if to_multiset(s_rows, s_cols) != to_multiset(d_rows, d_cols):
        return [f"{name}: values differ from the oracle"]
    return []


# --- inputs -------------------------------------------------------------------


def make_inputs(work: str, seed: int, spec: dict, need: set[str]) -> dict:
    import numpy as np

    import gen
    from reference import TweetGraphReference

    inputs: dict = {}
    if "tweets" in need:
        rows = gen.tweets(np.random.default_rng([seed, 1]), spec["tweets"])
        path = os.path.join(work, "tweets.json")
        gen.write_tweets(path, rows)
        ref = TweetGraphReference(rows)
        inputs.update(tweets=path, reference=ref, neighbourhood_seed=ref.most_retweeted(),
                      tweet_bytes=os.path.getsize(path))
    if "tables" in need:
        tabs, dup_share = gen.tables(np.random.default_rng([seed, 2]), spec["tables"])
        sf = os.path.join(work, "tables")
        gen.write_tables(sf, tabs)
        inputs.update(tables=sf, duplicate_share=dup_share,
                      table_bytes=sum(os.path.getsize(os.path.join(sf, f)) for f in os.listdir(sf)))
    return inputs


# --- runs ---------------------------------------------------------------------


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


