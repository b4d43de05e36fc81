#!/usr/bin/env python3
"""End-to-end benchmark of reindexer_spark, driven from outside the package.

    python3 perfbench/run.py --workload dup_testdata --seed 1 --seconds 20 --trace 0

Every run executes the same three legs, each through a public entry point:

- ``reindex``: ``cli.main --config … --input …`` over a seeded Spofford-shaped
  corpus, posting to the Solr stub (``solr_stub.py``, its own process): one
  full reindex, then resumed reindexes with ``--start-id`` leaving ~5%;
- ``stream``: the registered ``stream_cdc_dedup_live`` lane over a directory
  of part files, one micro-batch per file;
- ``lanes``: registered batch queries over seeded ``documents`` and
  ``embeddings`` tables, each built (``registry.get_query(…).fn``) and then
  written to the ``noop`` sink.

Every end-to-end metric is measured in every run, so the two workloads
differ in their inputs, not their legs: in ``dup_testdata`` 4.9% of the
documents are near copies of earlier ones, the share measured on the sf0.1
testdata, in ``dup_recrawl`` 50% (``gen.REUSE``), which moves how many
distinct chunk keys the Python-stateful stream operator keeps and calls
into.

A run starts Spark and makes one warm-up pass of every leg (cold runs are
1.5-4x slower; the lanes are checked against their oracles here).  It then
makes one timed pass (``Bench.one_pass``) in two parts, each a full
reindex, rounds of a resumed reindex and a model lane build, the scan
lane and a stream leg, with one round per ``ROUND_SECONDS`` of
``--seconds``.  It reports rates over the pass and medians over its
rounds and micro-batches.  The round count does not depend on how fast
the machine is, so runs on a fast and on a slow machine measure the same
work.  Outputs are checked outside the timed regions, and a failed check
or an exception counts as a failed operation.

``--trace 1`` prints the per-layer metrics instead.  After the set-up and
warm-up of a ``--trace 0`` run it stops that Spark context and opens two
more in the same JVM, each with a warm-up of its own: one with the Spark
UI REST API on and spans recorded for one traced pass, then one set up
like the first for one untraced pass.  The tracing overhead is the
traced pass wall minus the untraced one.  It also times the TIFF codec
directly on the image lane's fixtures.

The last stdout line is the JSON result; everything else goes to stderr.
Inputs and Spark scratch space live under ``.perfbench_work`` (removed at
the end), result records and span logs under ``.perfbench_out``, both in
the checkout root.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import platform
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
import traceback
import urllib.request
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

WORKLOADS = ("dup_testdata", "dup_recrawl")

# Input sizes, the same for both workloads.
# (reindex docs, stream docs, stream files); the warm-up runs every code
# path once on the warm set, the timed pass uses the main one.  The warm
# reindex corpus is full size: after a 500-doc one, which never fills a
# sink chunk, the first timed full reindex ran 20-30% slower than the
# second.
SIZES = {"main": (5_000, 72, 3), "warm": (5_000, 20, 1)}
REINDEX_CHUNK = 2_000
# one round (a resume and a model build) per ROUND_SECONDS of --seconds,
# an even number of them; nominal, a pass of 4 rounds took 24-25 s on a
# quiet host
ROUND_SECONDS = 6
# a --trace 1 run makes two passes, each of TRACE_ROUNDS rounds and one
# stream leg, to stay within its time limit on a slow host
TRACE_ROUNDS = 2

LANE_DOCS = LANE_VECS = 600  # sf0.01-sized documents and embeddings
DRIVER_MEM_GB = 2  # the inputs need well under 1 GB of heap
STREAM_LANES = {"cdc": "stream_cdc_dedup_live"}
# driver-held model is built while the query is constructed; the build is
# many small jobs, so its time is the median over the rounds
MODEL_LANES = ["embed_pca_power"]
# construction is planning only; the time is execution
SCAN_LANES = ["image_tiff_decode"]
# The seed does not permute the lane order: right after a stream leg the
# model builds ran ~50% slower for several seconds, so a permuted order
# made lanes_model_s bimodal.
LANE_ORDER = SCAN_LANES + MODEL_LANES
LANE_TABLES = ("documents", "embeddings")  # what the kept lanes read
CODEC_REPS = 7  # timed rounds of the codec loop; the median is reported


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment() -> dict:
    """Size Spark to this machine and keep every scratch file inside WORK."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    ram_gb = mem_kb / 1024**2
    driver_gb = DRIVER_MEM_GB
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # every JVM, the launcher's included: no /tmp/hsperfdata_*
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    return {"nproc": cpus, "ram_gb": round(ram_gb, 1), "driver_mem_gb": driver_gb}


def describe_environment(spark, env: dict, seed: int, workload: str) -> dict:
    system = spark.sparkContext._jvm.System
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            capture_output=True, text=True, check=True, cwd=ROOT,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        commit = "unknown (not a git checkout)"
    return {
        **env,
        "python": platform.python_version(),
        "spark": spark.version,
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "commit": commit,
        "seed": seed,
        "workload": workload,
        "master": spark.sparkContext.master,
    }


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU time by state, from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_for_exit(pids: list[int], timeout: float = 60.0) -> None:
    """Return once none of ``pids`` is running.  The Python workers are
    the gateway JVM's children and outlive it by a moment; stragglers past
    ``timeout`` are killed."""
    deadline = time.monotonic() + timeout
    while (left := [p for p in pids if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    while any(_alive(p) for p in left):
        time.sleep(0.1)


def oracle_frame(sql: str, views: dict[str, str]):
    """A registered oracle's result on DuckDB, canonicalized, with each
    table a view over the given files.  The stock runner
    (``oracle.run_oracle_duckdb``) registers every catalog table from one
    file each; the stream input is several part files, and the lane inputs
    hold only the tables the kept lanes read."""
    import duckdb

    from reindexer_spark.oracle import canonicalize

    con = duckdb.connect()
    try:
        for name, files in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{files}'")
        return canonicalize(con.sql(sql).df())
    finally:
        con.close()


def frame_problems(got, want) -> list[str]:
    """``oracle.compare_query``'s test on two canonical frames: same
    columns, same row count, same dtype-sensitive value hash."""
    from reindexer_spark.oracle import value_hash

    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} differ from the oracle's {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows differ from the oracle's {len(want)}"]
    if value_hash(got) != value_hash(want):
        return ["values differ from the oracle's"]
    return []


# --- inputs ----------------------------------------------------------------


@dataclass
class Inputs:
    corpus: object  # gen.Corpus
    stream_dir: str
    stream_docs: int
    stream_files: int


def make_inputs(seed: int, workload: str, root: str, size: str) -> Inputs:
    import gen

    n_reindex, n_stream, n_files = SIZES[size]
    dirs = {k: os.path.join(root, k) for k in ("reindex", "stream")}
    for d in dirs.values():
        os.makedirs(d)
    corpus = gen.reindex_corpus(seed, dirs["reindex"], n_reindex, sample_every=97)
    gen.stream_documents(seed, workload, dirs["stream"], n_stream, n_files)
    return Inputs(corpus, dirs["stream"], n_stream, n_files)


def make_all_inputs(seed: int, workload: str, root: str) -> dict:
    import gen

    lanes_dir = os.path.join(root, "lanes")
    os.makedirs(lanes_dir)
    gen.lane_tables(seed, workload, lanes_dir, LANE_DOCS, LANE_VECS)
    return {
        "lanes": lanes_dir,
        **{k: make_inputs(seed, workload, os.path.join(root, k), k) for k in SIZES},
    }


def check_generator(seed: int, workload: str, digest: str) -> list[str]:
    """Same seed → byte-identical inputs; next seed → different inputs."""
    import gen

    problems = []
    for s, want_same in ((seed, True), (seed + 1, False)):
        root = os.path.join(WORK, f"gen_check_{s}")
        make_all_inputs(s, workload, root)
        same = gen.tree_digest(root) == digest
        shutil.rmtree(root)
        if same != want_same:
            problems.append(
                f"seed {s}: inputs {'differ' if want_same else 'repeat'} "
                f"for seed {seed}"
            )
    return problems


def merge_stream_legs(legs: list[dict]) -> dict:
    """Each stream lane over all of ``legs``: walls, docs, micro-batches,
    query runs and job groups together."""
    return {
        short: {
            "wall": sum(leg[short]["wall"] for leg in legs),
            "docs": sum(leg[short]["docs"] for leg in legs),
            **{
                k: [x for leg in legs for x in leg[short][k]]
                for k in ("batches", "runs", "groups")
            },
        }
        for short in STREAM_LANES
    }


# --- the benchmark -----------------------------------------------------------


class Bench:
    def __init__(self, args, env: dict) -> None:
        self.args = args
        self.env = env
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.persisted_before_run = 0
        self.cache_peak_mb = 0.0

    # operation accounting ---------------------------------------------------

    def op(self, name: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                self.problems.append(f"{name}: {p}")
                log(f"FAIL {name}: {p}")
        return not problems

    @contextlib.contextmanager
    def guarded(self, name: str):
        """Count an exception as a failed operation and carry on."""
        try:
            yield
        except Exception as exc:  # noqa: BLE001 — one failed op must not end the run
            traceback.print_exc(file=sys.stderr)
            self.op(name, [f"{type(exc).__name__}: {exc}"])

    # set-up ---------------------------------------------------------------------

    def start(self) -> None:
        """Inputs, their checks and the Solr stub; no Spark yet."""
        from tracing import Spans, TreeRss

        a = self.args
        self.rss = TreeRss().start()
        main_dir = os.path.join(WORK, "inputs")
        inputs = make_all_inputs(a.seed, a.workload, main_dir)
        self.main, self.warm, self.lanes_dir = inputs["main"], inputs["warm"], inputs["lanes"]
        import gen

        self.op("generator", check_generator(a.seed, a.workload, gen.tree_digest(main_dir)))
        self.stream_oracle = {
            id(inp): self._stream_oracles(inp) for inp in (self.main, self.warm)
        }
        self.stub = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "solr_stub.py")],
            stdout=subprocess.PIPE, text=True,
        )
        self.stub_url = f"http://127.0.0.1:{int(self.stub.stdout.readline())}"
        self.config = os.path.join(WORK, "config.json")
        with open(self.config, "w") as fh:
            json.dump(
                {
                    "password": "unused",
                    "solrUrl": f"{self.stub_url}/solr",
                    "chunkSize": REINDEX_CHUNK,
                },
                fh,
            )
        self.spans = Spans(f"{a.workload}-{a.seed}-{os.getpid()}")
        self.setups: list[tuple[float, float]] = []  # (start_s, warmup_s) per session

    def open_session(self, ui: bool, check: bool) -> None:
        """Start a Spark context and warm it up (``warm_up``); ``ui`` turns
        on the Spark UI and its REST API, which only the traced session
        has."""
        from tracing import StreamProgress

        t0 = time.perf_counter()
        extra = {
            "spark.local.dir": os.environ["TMPDIR"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if ui:
            with socket.socket() as s:
                s.bind(("127.0.0.1", 0))
                self.ui_port = s.getsockname()[1]
            extra.update(
                {
                    "spark.ui.enabled": "true",
                    "spark.ui.port": str(self.ui_port),
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.driver.bindAddress": "127.0.0.1",
                    "spark.driver.host": "127.0.0.1",
                }
            )
        from reindexer_spark import get_spark

        self.spark = get_spark("perfbench", extra_conf=extra)
        start_s = time.perf_counter() - t0
        log(f"session started in {start_s:.1f}s (ui {ui})")
        self.progress = StreamProgress()
        self.spark.streams.addListener(self.progress.listener)
        if not hasattr(self, "environment"):
            self.environment = describe_environment(
                self.spark, self.env, self.args.seed, self.args.workload
            )
            log(f"environment {json.dumps(self.environment)}")
        t0 = time.perf_counter()
        self.warm_up(check)
        self.setups.append((start_s, time.perf_counter() - t0))

    def close_session(self) -> None:
        """Stop the Spark context; the gateway JVM keeps running."""
        from reindexer_spark.cache import release_all

        release_all()
        self.spark.stop()
        self.spark = None

    def stop(self) -> None:
        from tracing import descendants

        started = descendants(os.getpid())
        if getattr(self, "spark", None) is not None:
            self.close_session()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            # the gateway JVM exits when its stdin closes; wait for it
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        stub = getattr(self, "stub", None)
        if stub is not None:
            stub.terminate()
            stub.wait(timeout=30)
            stub.stdout.close()
        if getattr(self, "rss", None) is not None:
            self.rss.stop()
        wait_for_exit(started + descendants(os.getpid()))

    # shared helpers -------------------------------------------------------------

    def _clear_cache(self) -> None:
        """Nothing a previous run persisted may serve this one."""
        from reindexer_spark.cache import release_all
        from tracing import persisted_rdds

        release_all()
        self.spark.catalog.clearCache()
        left = persisted_rdds(self.spark)
        self.persisted_before_run = max(self.persisted_before_run, left)
        if left:
            raise RuntimeError(f"{left} persisted RDDs before a timed run")

    def _stub(self, method: str, path: str, payload: dict | None = None) -> dict:
        data = None if payload is None else json.dumps(payload).encode()
        req = urllib.request.Request(self.stub_url + path, data=data, method=method)
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read())

    # reindex leg ------------------------------------------------------------------

    def reindex_phase(self, tag: str, inp: Inputs, start_id: str | None) -> dict:
        import hashlib

        from reindexer_spark import cli
        from tracing import cached_mb, job_group

        c = inp.corpus
        expect = [i for i in c.live_ids if start_id is None or i > start_id]
        bad = [i for i in c.corrupt_live_ids if start_id is None or i > start_id]
        samples = {
            k: v for k, v in c.samples.items() if start_id is None or k > start_id
        }
        self._stub("POST", "/_phase", {"sample_ids": sorted(samples)})
        self._clear_cache()
        argv = ["--config", self.config, "--input", c.path]
        if start_id is not None:
            argv += ["--start-id", start_id]
        out = io.StringIO()
        first_span = len(self.spans.records)
        with job_group(self.spark, tag), contextlib.redirect_stdout(out):
            t0 = time.perf_counter()
            with self.spans.span("cli.main"):
                rc = cli.main(argv)
            wall = time.perf_counter() - t0
        spans = self.spans.records[first_span:]
        self.cache_peak_mb = max(self.cache_peak_mb, cached_mb(self.spark))
        stats = self._stub("GET", "/_stats")
        summary = json.loads(out.getvalue().strip().splitlines()[-1])
        problems = []
        if rc != 0:
            problems.append(f"cli.main exit {rc}")
        want = hashlib.sha256("\n".join(sorted(expect)).encode()).hexdigest()
        if stats["distinct"] != len(expect) or stats["ids_sha256"] != want:
            problems.append(
                f"stub got {stats['distinct']} distinct ids, expected {len(expect)}"
            )
        if stats["bad_docs"]:
            problems.append(f"{stats['bad_docs']} posted docs without an id")
        if summary["ingested"] != len(expect):
            problems.append(f"ingested {summary['ingested']} != {len(expect)}")
        if summary["quarantined"] != len(bad):
            problems.append(f"quarantined {summary['quarantined']} != {len(bad)}")
        for did, fields in samples.items():
            got = stats["samples"].get(did)
            if got != fields:
                problems.append(f"doc {did}: posted {got!r}, expected {fields!r}")
                break
        self.op(tag, problems)
        return {
            "wall": wall,
            "ingested": summary["ingested"],
            "quarantined": summary["quarantined"],
            "stub": stats,
            "spans": spans,
            "group": tag,
        }

    def reindex_leg(self, p: str, inp: Inputs) -> None:
        self.reindex_phase(f"{p}:reindex:full", inp, None)
        self.reindex_phase(f"{p}:reindex:resume", inp, inp.corpus.resume_id)

    # stream leg -------------------------------------------------------------------

    def _stream_oracles(self, inp: Inputs) -> dict:
        """The registered oracle SQL on DuckDB over the same part files."""
        from reindexer_spark.registry import get_query

        glob = os.path.join(inp.stream_dir, "documents.parquet", "*.parquet")
        return {
            short: oracle_frame(get_query(lane).oracle, {"documents": glob})
            for short, lane in STREAM_LANES.items()
        }

    def stream_lane(self, p: str, short: str, inp: Inputs) -> dict:
        from reindexer_spark.oracle import canonicalize
        from reindexer_spark.registry import get_query
        from tracing import job_group

        lane = STREAM_LANES[short]
        tag = f"{p}:stream:{short}"
        self._clear_cache()
        mark = self.progress.mark()
        with job_group(self.spark, tag):
            t0 = time.perf_counter()
            df = get_query(lane).fn(self.spark, inp.stream_dir)
            wall = time.perf_counter() - t0
            pdf = canonicalize(df.toPandas())
        runs = self.progress.runs_since(mark)
        batches = self.progress.batches(runs)
        problems = frame_problems(pdf, self.stream_oracle[id(inp)][short])
        fed = [b for b in batches if b["rows"] > 0]
        if len(fed) != inp.stream_files:
            problems.append(f"{len(fed)} data micro-batches for {inp.stream_files} files")
        self.op(tag, problems)
        return {"wall": wall, "docs": inp.stream_docs, "batches": batches,
                "runs": runs, "groups": [tag]}

    def stream_leg(self, p: str, inp: Inputs) -> dict:
        return {short: self.stream_lane(p, short, inp) for short in STREAM_LANES}

    # lanes leg ------------------------------------------------------------------------

    def _lane_once(self, lane: str, tag: str) -> dict:
        """Build the lane's DataFrame, then write it to the noop sink."""
        from reindexer_spark.registry import get_query
        from tracing import job_group, jobs_in_group

        self._clear_cache()
        with job_group(self.spark, f"{tag}:build"):
            t0 = time.perf_counter()
            df = get_query(lane).fn(self.spark, self.lanes_dir)
            build = time.perf_counter() - t0
        with job_group(self.spark, f"{tag}:execute"):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            execute = time.perf_counter() - t0
        log(f"{tag}: build {build:.2f}s execute {execute:.2f}s")
        return {
            "build": build,
            "execute": execute,
            "build_jobs": jobs_in_group(self.spark, f"{tag}:build"),
            "groups": [f"{tag}:build", f"{tag}:execute"],
        }

    def lanes_check(self, p: str) -> None:
        """Build and collect every lane, checked against its oracle."""
        from reindexer_spark.oracle import canonicalize
        from reindexer_spark.registry import get_query
        from tracing import job_group

        views = {t: os.path.join(self.lanes_dir, f"{t}.parquet") for t in LANE_TABLES}
        for lane in LANE_ORDER:
            tag = f"{p}:lane:{lane}"
            with self.guarded(tag), job_group(self.spark, tag):
                self._clear_cache()
                q = get_query(lane)
                got = canonicalize(q.fn(self.spark, self.lanes_dir).toPandas())
                self.op(tag, frame_problems(got, oracle_frame(q.oracle, views)))

    def lane_reps(self, lane: str, tag: str, reps: list[dict]) -> None:
        """Append one build + execute of ``lane`` to ``reps``."""
        with self.guarded(tag):
            reps.append(self._lane_once(lane, tag))
            self.op(tag, [])

    # passes -------------------------------------------------------------------------------

    def warm_up(self, check: bool) -> None:
        """Run every code path once (cold runs are 1.5-4x slower): the
        reindex and stream legs on the small inputs, the lanes on the
        tables the timed passes use, checked against their oracles if
        ``check``, else built and run once each."""
        p = f"warmup{len(self.setups)}"
        t0 = time.perf_counter()
        with self.guarded(f"{p}:reindex"):
            self.reindex_leg(p, self.warm)
        t1 = time.perf_counter()
        with self.guarded(f"{p}:stream"):
            self.stream_leg(p, self.warm)
        t2 = time.perf_counter()
        if check:
            self.lanes_check(p)
        else:
            for lane in LANE_ORDER:
                self.lane_reps(lane, f"{p}:lane:{lane}", [])
        t3 = time.perf_counter()
        log(f"warm-up: reindex {t1 - t0:.1f}s stream {t2 - t1:.1f}s lanes {t3 - t2:.1f}s")

    def one_pass(self, p: str, rounds: int, parts: int) -> dict:
        """One timed pass in ``parts`` parts.  Each part makes a full
        reindex, ``rounds // parts`` rounds of a resumed reindex and a
        build + execute of each model lane, a build + execute of each scan
        lane and a stream leg.  Each metric's samples are spread over
        the whole pass, because on a shared host the share of the CPU the
        hypervisor takes changes every few tens of seconds, and while it
        takes 10-15% a resume or a model build runs 1.5x slower."""
        res: dict = {"reindex": {"fulls": [], "resumes": []}, "lanes": {}}
        reps: dict[str, list[dict]] = {lane: [] for lane in LANE_ORDER}
        streams = []
        main = self.main
        t0 = time.perf_counter()
        per_part = rounds // parts
        for part in range(parts):
            tag = f"{p}:reindex:full{part}"
            with self.guarded(tag):
                res["reindex"]["fulls"].append(self.reindex_phase(tag, main, None))
            for i in range(part * per_part, (part + 1) * per_part):
                tag = f"{p}:reindex:resume{i}"
                with self.guarded(tag):
                    res["reindex"]["resumes"].append(
                        self.reindex_phase(tag, main, main.corpus.resume_id)
                    )
                for lane in MODEL_LANES:
                    self.lane_reps(lane, f"{p}:lane:{lane}:{i}", reps[lane])
            for lane in SCAN_LANES:
                self.lane_reps(lane, f"{p}:lane:{lane}:{part}", reps[lane])
            with self.guarded(f"{p}:stream{part}"):
                streams.append(self.stream_leg(f"{p}:{part}", main))
        if len(streams) == parts:
            res["stream"] = merge_stream_legs(streams)
        for lane, r in reps.items():
            if r:
                res["lanes"][lane] = {
                    "build": statistics.median(x["build"] for x in r),
                    "execute": statistics.median(x["execute"] for x in r),
                    "total": statistics.median(x["build"] + x["execute"] for x in r),
                    "build_jobs": r[0]["build_jobs"],
                    "groups": [g for x in r for g in x["groups"]],
                    "wall": sum(x["build"] + x["execute"] for x in r),
                }
        res["wall"] = time.perf_counter() - t0
        log(f"pass {p}: {res['wall']:.1f}s")
        return res

    def codec_decode_mbps(self) -> float:
        """TIFF decode throughput of ``codecs._decode_image`` on the
        fixtures ``image_tiff_decode`` builds from this run's documents
        (the lane's own derivation: size, gray/RGB, byte order and
        compression from the text digest and doc id), timed in a direct
        loop in this process: decoded bytes over the median round."""
        import hashlib

        import pyarrow.parquet as pq

        from reindexer_spark.codecs import _decode_image
        from reindexer_spark.operators.multimodal import TIFF_DOCS
        from reindexer_spark.tiff import encode_tiff

        docs = pq.read_table(os.path.join(self.lanes_dir, "documents.parquet"))
        fixtures = []
        for mid, text in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
            if mid >= TIFF_DOCS:
                continue
            dg = hashlib.sha256(text.encode()).hexdigest()
            w, h = 4 + int(dg[0:2], 16) % 13, 4 + int(dg[2:4], 16) % 9
            gray = mid % 3 == 0
            comp, pred = ((1, 1), (5, 2), (32773, 1), (8, 2))[mid % 4]
            n = w * h * (1 if gray else 3)
            src = bytes.fromhex("".join(
                hashlib.sha256(f"{dg}-{i}".encode()).hexdigest()
                for i in range((n + 31) // 32)
            )[: 2 * n])
            rgb = b"".join(bytes((v, v, v)) for v in src) if gray else src
            payload = encode_tiff(
                w, h, rgb, le=mid % 2 == 0, gray=gray, compression=comp, predictor=pred
            )
            fixtures.append((payload, rgb))
        bad = [i for i, (p, rgb) in enumerate(fixtures) if _decode_image("tiff", p)[2] != rgb]
        self.op("codec:tiff", [f"fixture {i} decodes wrong" for i in bad])
        # enough decodes per round that a round takes ~0.2 s
        t0 = time.perf_counter()
        for p, _ in fixtures:
            _decode_image("tiff", p)
        loops = max(1, round(0.2 / (time.perf_counter() - t0)))
        rounds = []
        for _ in range(CODEC_REPS):
            t0 = time.perf_counter()
            for _ in range(loops):
                for p, _ in fixtures:
                    _decode_image("tiff", p)
            rounds.append(time.perf_counter() - t0)
        decoded = loops * sum(len(rgb) for _, rgb in fixtures)
        return decoded / 1e6 / statistics.median(rounds)


# --- metrics ---------------------------------------------------------------------------


def pass_metrics(res: dict) -> dict:
    """End-to-end values of one pass."""
    m = {}
    reindex = res["reindex"]
    if reindex["fulls"]:
        m["reindex_docs_per_s"] = sum(r["ingested"] for r in reindex["fulls"]) / sum(
            r["wall"] for r in reindex["fulls"]
        )
    if reindex["resumes"]:
        m["resume_s"] = statistics.median(r["wall"] for r in reindex["resumes"])
    if "stream" in res:
        for short, lane in res["stream"].items():
            m[f"stream_{short}_docs_per_s"] = lane["docs"] / lane["wall"]
    lanes = res["lanes"]
    if all(n in lanes for n in MODEL_LANES + SCAN_LANES):
        m["lanes_model_s"] = sum(lanes[n]["total"] for n in MODEL_LANES)
        m["lanes_scan_s"] = sum(lanes[n]["total"] for n in SCAN_LANES)
    return m


def batch_times(res: dict) -> list[float]:
    return [
        float(b["ms"].get("triggerExecution", 0))
        for lane in res.get("stream", {}).values()
        for b in lane["batches"]
        if b["rows"] > 0
    ]


def end_to_end(bench: Bench, res: dict) -> dict:
    vals = pass_metrics(res)
    bt = batch_times(res)
    if len(bt) > 1:
        deciles = statistics.quantiles(bt, n=10, method="inclusive")
        vals["stream_batch_p50_ms"] = deciles[4]
        vals["stream_batch_p90_ms"] = deciles[8]
    vals["setup_s"] = sum(bench.setups[0])
    units = {
        "setup_s": "s", "reindex_docs_per_s": "1/s", "resume_s": "s",
        "stream_cdc_docs_per_s": "1/s",
        "stream_batch_p50_ms": "ms", "stream_batch_p90_ms": "ms",
        "lanes_model_s": "s", "lanes_scan_s": "s", "peak_rss_mb": "MB",
    }
    return {k: {"value": vals[k], "unit": units[k]} for k in units if k in vals}


def per_leg_sums(bench: Bench, traced: dict) -> dict:
    """Stage and task totals per leg of the traced pass, from the Spark UI
    REST API of the traced context (so call it before that one stops)."""
    from tracing import StageSums

    sums = StageSums(bench.spark, bench.ui_port)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    legs = {
        "reindex": (
            traced["reindex"]["fulls"] + traced["reindex"]["resumes"],
            lambda r: {r["group"]},
        ),
        "stream": (
            list(traced["stream"].values()),
            lambda r: {*r["groups"], *r["runs"]},
        ),
        "lanes": (list(traced["lanes"].values()), lambda r: set(r["groups"])),
    }
    m = {}
    for leg, (items, groups_of) in legs.items():
        groups = set().union(*(groups_of(r) for r in items))
        wall = sum(r["wall"] for r in items)
        s = sums.sums(groups)
        for k, v in s.items():
            unit = {"stages": "count", "tasks": "count"}.get(k, "MB" if k.endswith("_mb") else "s")
            m[f"operators.{leg}.{k}"] = (v, unit)
        m[f"operators.{leg}.core_busy_ratio"] = (s["executor_run_s"] / (wall * cores), "ratio")
    return m


def per_layer(bench: Bench, traced: dict, leg_sums: dict, untraced_wall: float) -> dict:
    from tracing import span_total

    m: dict[str, tuple[float, str]] = {}
    # set-up of the first context, the one set up like a --trace 0 run
    m["session.start_s"] = (bench.setups[0][0], "s")
    m["session.warmup_s"] = (bench.setups[0][1], "s")

    # registry / operators per lane
    lanes = traced["lanes"]
    for lane in MODEL_LANES + SCAN_LANES:
        if lane in lanes:
            m[f"registry.construct_s.{lane}"] = (lanes[lane]["build"], "s")
            m[f"registry.construct_jobs.{lane}"] = (lanes[lane]["build_jobs"], "count")
            m[f"operators.execute_s.{lane}"] = (lanes[lane]["execute"], "s")

    m.update(leg_sums)  # operators per leg, from the REST API

    # docpipe: shaping costs from the first resumed phase (they are what
    # resume_s is made of), sink costs from the first full phase
    full = traced["reindex"]["fulls"][0]
    res0 = traced["reindex"]["resumes"][0]
    m["docpipe.infer_schema_s"] = (span_total(res0["spans"], "infer_content_schema"), "s")
    m["docpipe.shape_s"] = (span_total(res0["spans"], "shape_documents"), "s")
    m["docpipe.resume_input_rows"] = (res0["ingested"] + res0["quarantined"], "count")
    m["docpipe.cli_overhead_s"] = (
        span_total(res0["spans"], "cli.main") - span_total(res0["spans"], "run_reindex"),
        "s",
    )
    st = full["stub"]
    m["docpipe.sink_write_s"] = (span_total(full["spans"], "SolrSink.write"), "s")
    m["docpipe.sink_posts"] = (st["posts"], "count")
    m["docpipe.sink_docs"] = (st["docs"], "count")
    m["docpipe.sink_mb"] = (st["bytes"] / 1e6, "MB")
    m["docpipe.sink_retries"] = (st["resent_batches"], "count")
    m["docpipe.sink_dup_docs"] = (st["dup_docs"], "count")
    m["docpipe.stub_busy_s"] = (st["busy_s"], "s")

    # streaming, per lane
    for short, lane in traced["stream"].items():
        b = [x for x in lane["batches"] if x["rows"] > 0]
        ms = lambda k: sum(float(x["ms"].get(k, 0)) for x in b)  # noqa: E731
        state = [x["state"][0] for x in b if x["state"]]
        p = f"streaming.{short}"
        m[f"{p}.state_rows_updated"] = (sum(s["updated"] for s in state), "count")
        m[f"{p}.state_rows_total"] = (state[-1]["total"] if state else 0, "count")
        m[f"{p}.state_memory_mb"] = (state[-1]["memory"] / 1e6 if state else 0, "MB")
        m[f"{p}.state_update_ms"] = (sum(s["update_ms"] for s in state), "ms")
        m[f"{p}.state_commit_ms"] = (sum(s["commit_ms"] for s in state), "ms")
        m[f"{p}.microbatches"] = (len(b), "count")
        m[f"{p}.add_batch_ms"] = (ms("addBatch"), "ms")
        m[f"{p}.query_planning_ms"] = (ms("queryPlanning"), "ms")
        m[f"{p}.wal_commit_ms"] = (ms("walCommit"), "ms")
        m[f"{p}.first_batch_ms"] = (float(b[0]["ms"].get("triggerExecution", 0)) if b else 0, "ms")
        m[f"{p}.run_overhead_s"] = (lane["wall"] - ms("triggerExecution") / 1e3, "s")
    m["streaming.batch_samples"] = (len(batch_times(traced)), "count")

    m["cache.persisted_before_run"] = (bench.persisted_before_run, "count")
    m["cache.peak_mb"] = (bench.cache_peak_mb, "MB")
    m["codecs.decode_mbps.tiff"] = (bench.codec_mbps, "MB/s")
    # UI, REST retention and spans; the stream listener and job groups
    # are in both passes (the end-to-end metrics need them)
    m["trace.overhead_s"] = (traced["wall"] - untraced_wall, "s")
    m["failed_ratio"] = (bench.failed / max(bench.attempted, 1), "ratio")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


# --- main --------------------------------------------------------------------------------


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args) -> dict:
    sys.path[:0] = [HERE, ROOT]
    import reindexer_spark  # noqa: F401 — fail before any work if absent

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    env = pin_environment()
    ticks = cpu_ticks()

    bench = Bench(args, env)
    try:
        bench.start()
        bench.open_session(ui=False, check=True)
        if args.trace:
            # The first context's passes run slower than those of a later
            # context in the same JVM, so the traced pass is compared with
            # an untraced pass in a third context, not with the first.
            bench.close_session()
            bench.open_session(ui=True, check=False)
            bench.spans.enabled = True
            bench.spans.install_docpipe()
            traced = bench.one_pass("traced", TRACE_ROUNDS, 1)
            bench.spans.enabled = False
            traced_sums = per_leg_sums(bench, traced)
            bench.close_session()
            bench.open_session(ui=False, check=False)
            untraced = bench.one_pass("untraced", TRACE_ROUNDS, 1)
            bench.spans.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
            bench.codec_mbps = bench.codec_decode_mbps()
            metrics = per_layer(bench, traced, traced_sums, untraced["wall"])
        else:
            rounds = 2 * max(1, round(args.seconds / (2 * ROUND_SECONDS)))
            metrics = end_to_end(bench, bench.one_pass("timed", rounds, 2))
    finally:
        bench.stop()
    if not args.trace:
        metrics["peak_rss_mb"] = {"value": bench.rss.peak_mb, "unit": "MB"}
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    # share of the machine's CPU time its hypervisor took during the run:
    # runs on a shared host slow down together when it is high
    d = [b - a for a, b in zip(ticks, cpu_ticks())]
    bench.environment["steal_pct"] = round(100 * d[7] / max(sum(d), 1), 2)
    record = {**result, "environment": bench.environment, "problems": bench.problems}
    name = f"result-{args.workload}-{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, name), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(WORK, ignore_errors=True)
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and the stub (``finally`` in run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
