"""StreamForge benchmark: one workload per run, outputs checked against
the seeded outcome model, one JSON result as the last stdout line.

    python3 perfbench/run.py --workload cdc_egress --seed 1 --seconds 1 --trace 0

Run from the repository root.  A streaming run has two phases on one
running job (``jobs.JOB_REGISTRY[...]`` built on ``session.get_spark``):

1. set-up: import, session, ``registry.load_all`` and the job build, with
   the job's queries started on an empty source directory;
2. drain: a pre-written backlog is renamed into the source directory at
   once and timed until every query has committed it and gone quiet,
   no-data watermark batches included.  The first backlog is the job's
   first data, so it includes first-batch code generation, as every job
   start does.  Further backlogs follow while less than ``--seconds`` has
   passed since the drain began (at most ``MAX_ROUNDS`` in all).

The end-to-end metrics are two CPU-second figures -- ``setup_s`` (this
process, the JVM and its Python workers, during set-up) and
``drain_cpu_s`` (JVM and workers per backlog) -- and the wall-clock
``drain_eps`` (backlog events per second of drain).  Set-up wall time
and each backlog's wall time, CPU time, micro-batches, processes spawned
and CPU time stolen by the hypervisor go to the stamp line.  Every event
is then checked against ``workloads``' model; ``failed`` counts events
whose outcome or final value differs.

``--trace 1`` turns on the Spark event log and a ``StreamingQueryListener``,
adds an open-loop burst after the drain (``publisher.py``, a separate
process, publishes ``BURST_FILES`` files in one second on a fixed
schedule), prints the per-layer metrics instead and writes spans to
``.perfbench/trace/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procstat  # noqa: E402
import workloads as wl  # noqa: E402

#: per workload: job, primary sink, events and files per drain backlog,
#: events per open-loop file
SETTINGS = {
    "cdc_egress": dict(job="MongoToKafka", primary="out",
                       backlog_events=12_000, backlog_files=12, burst_events=2),
    "changelog_materialize": dict(job="UserStateMaterialize", primary="changelog",
                                  backlog_events=3_600, backlog_files=8,
                                  burst_events=1),
    "cdc_ingress_upsert": dict(job="KafkaToMongo", primary="upsert",
                               backlog_events=12_000, backlog_files=12,
                               burst_events=2),
}
#: backlog ``r`` is event phase ``r``; the open-loop burst comes after them
MAX_ROUNDS = 4
BURST_PHASE = MAX_ROUNDS
#: traced runs' open-loop burst: this many files over one second
BURST_FILES = 210

E2E_UNITS = {"setup_s": "s", "drain_cpu_s": "s", "drain_eps": "1/s"}


def layer_unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_s_max", "s"), ("_ms_p50", "ms"),
                         ("_mb", "MB"), ("_eps", "1/s"), ("_bytes_sent", "bytes"),
                         ("_bytes_returned", "bytes"), ("_share", "ratio"),
                         ("_amplification", "ratio"), ("_skew", "ratio"),
                         ("_speedup", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def log(msg: str) -> None:
    """Phase progress on stderr, as seconds since the process started."""
    print(f"[perfbench {time.time() - procstat.process_start_epoch():7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> str | None:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def configure_env(work: str, trace: bool) -> None:
    """Spark settings from outside the program: workers import the repo,
    scratch space stays in the run directory, event log when tracing."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = {"spark.ui.showConsoleProgress": "false",
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def write_files(events: list, directory: str, n_files: int, prefix: str) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    per = -(-len(events) // n_files)
    names = []
    for i in range(n_files):
        name = f"{prefix}-{i:05d}.json"
        with open(os.path.join(directory, name), "w") as f:
            f.write("".join(e.line + "\n" for e in events[i * per:(i + 1) * per]))
        names.append(name)
    return names


def write_reference(rows: list, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pa.table({
        "primary_key": [r[0] for r in rows],
        "payload_json": [r[1] for r in rows],
        "event_time": pa.array([r[2] for r in rows], pa.timestamp("us", tz="UTC")),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


# --- reading outputs --------------------------------------------------

def read_rows(path: str, columns: list[str]) -> list[dict]:
    """Rows of a parquet sink directory (``_spark_metadata`` and other
    hidden entries ignored; ``_kb=`` bucket directories as a column)."""
    import pyarrow.dataset as ds
    if not os.path.isdir(path):
        return []
    d = ds.dataset(path, format="parquet", partitioning="hive",
                   ignore_prefixes=[".", "_spark_metadata", "_SUCCESS"])
    return d.to_table(columns=columns).to_pylist() if d.files else []


def parse_dlq(out: str) -> Counter:
    return Counter(r["raw_event"] for r in read_rows(f"{out}/dlq_parse", ["raw_event"]))


def payload_dlq(path: str) -> Counter:
    rows = (json.loads(r["raw_event"]) for r in read_rows(path, ["raw_event"]))
    return Counter((r.get("primary_key"), wl.canonical(r.get("payload_json")))
                   for r in rows)


def check(workload: str, out: str, exp: wl.Expected, events: list) -> int:
    """Events whose outcome or final value differs from the model."""
    failed = wl.mismatches(exp.parse_dlq, parse_dlq(out), "parse DLQ", log)
    if workload == "cdc_egress":
        rows = read_rows(f"{out}/out", ["key", "value"])
        actual = Counter(
            (r["key"], wl.TOMBSTONE if r["value"] is None
             else wl.canonical(json.loads(r["value"]).get("payload_json")))
            for r in rows)
        failed += wl.mismatches(exp.primary, actual, "out", log)
        failed += wl.mismatches(exp.payload_dlq, payload_dlq(f"{out}/dlq_schema"),
                                "schema DLQ", log)
    elif workload == "changelog_materialize":
        rows = read_rows(f"{out}/changelog", ["primary_key", "payload_json"])
        actual = Counter()
        for r in rows:
            j = json.loads(r["payload_json"])
            actual[(r["primary_key"], j.get("changeType"), j.get("before"),
                    j.get("after"))] += 1
        failed += wl.mismatches(exp.primary, actual, "changelog", log)
    else:
        rows = read_rows(f"{out}/table", ["primary_key", "payload_json", "metadata"])
        failed += wl.mismatches(exp.payload_dlq,
                                payload_dlq(f"{out}/dlq_constraint"),
                                "constraint DLQ", log)
        table: dict = {}
        for r in rows:
            value = (r["payload_json"], dict(r["metadata"] or []).get("enrichedRef1"))
            table[r["primary_key"]] = value if r["primary_key"] not in table else None
        per_key = Counter(e.key for e in events if e.key is not None)
        wrong = [k for k in set(table) | set(exp.table) if table.get(k) != exp.table.get(k)]
        for key in wrong[:3]:
            log(f"table row {key}: {table.get(key)} != {exp.table.get(key)}")
        failed += sum(per_key[k] or 1 for k in wrong)
    return failed


# --- micro-batch timing from the checkpoint -------------------------

def file_batches(ckpt: str) -> dict[str, int]:
    """Source file name -> id of the micro-batch that read it.

    The file source logs each planned file under a *source* offset
    (``sources/0``); a micro-batch's offset log (``offsets/<id>``) ends
    with the source offset it reads up to.  A file belongs to the first
    micro-batch whose offset reaches the file's source offset (no-data
    batches repeat their predecessor's offset)."""
    source_offset = {}
    src = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    source_offset[os.path.basename(e["path"])] = int(e["batchId"])
    reads_to = []
    offsets = os.path.join(ckpt, "offsets")
    for name in os.listdir(offsets):
        if name.isdigit():
            with open(os.path.join(offsets, name)) as f:
                last = f.read().strip().splitlines()[-1]
            reads_to.append((int(json.loads(last)["logOffset"]), int(name)))
    reads_to.sort()
    out = {}
    for file, off in source_offset.items():
        out[file] = next((b for o, b in reads_to if o >= off), -1)
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    return {int(n): os.stat(os.path.join(d, n)).st_mtime
            for n in os.listdir(d) if n.isdigit()}


def wait_committed(ckpt: str, names: list[str], queries,
                   timeout_s: float = 120) -> None:
    """Block until a committed micro-batch of the query checkpointed at
    ``ckpt`` has read every file in ``names``.  Unlike
    ``processAllAvailable`` this does not wait for a no-data batch the
    watermark may schedule next: the outputs are complete once the data
    is committed."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(f"query {q.id} failed: {q.exception()}")
        read = file_batches(ckpt)
        if all(n in read for n in names):
            done = commit_times(ckpt)
            if all(read[n] in done for n in names):
                return
        time.sleep(0.05)
    raise TimeoutError(f"{ckpt}: files not committed within {timeout_s}s")


def _last_id(directory: str) -> int:
    if not os.path.isdir(directory):
        return -1
    return max((int(n) for n in os.listdir(directory) if n.isdigit()), default=-1)


def wait_quiet(ckpts: list[str], queries, quiet_s: float = 0.5,
               timeout_s: float = 120) -> float:
    """Block until no query has started a micro-batch for ``quiet_s``
    after its last commit, so the no-data batch a watermark schedules
    after a drain is included; return the last commit's time."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(f"query {q.id} failed: {q.exception()}")
        ids = [(_last_id(f"{c}/offsets"), _last_id(f"{c}/commits")) for c in ckpts]
        if all(o == c for o, c in ids):
            last = max(os.stat(f"{c}/commits/{i}").st_mtime
                       for c, (_, i) in zip(ckpts, ids) if i >= 0)
            if time.time() - last >= quiet_s:
                return last
        time.sleep(0.05)
    raise TimeoutError(f"queries still busy after {timeout_s}s")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


# --- the run ----------------------------------------------------------

class Run:
    """One streaming run: inputs, the running job and what it measured."""

    def __init__(self, args, work: str, stamp: dict):
        self.args, self.work, self.stamp = args, work, stamp
        self.cfg_w = SETTINGS[args.workload]
        self.sinks = SINKS[args.workload]
        w, seed = args.workload, args.seed
        self.backlog = wl.events_for(w, seed, 0, self.cfg_w["backlog_events"])
        self.drained: list[wl.Event] = []
        self.burst = (wl.events_for(w, seed, BURST_PHASE,
                                    BURST_FILES * self.cfg_w["burst_events"])
                      if args.trace else [])
        self.src, self.out, self.ckpt = (os.path.join(work, d)
                                         for d in ("src", "out", "ckpt"))
        os.makedirs(self.src)
        self.overrides = {"SOURCE_PATH": self.src, "OUTPUT_PATH": self.out,
                          "CHECKPOINT_DIR": self.ckpt}
        self.reference = None
        if w == "cdc_ingress_upsert":
            self.reference = wl.reference_rows(seed)
            write_reference(self.reference, os.path.join(work, "reference"))
            self.overrides["REFERENCE_PATH"] = os.path.join(work, "reference")
        self.stage = os.path.join(work, "stage")
        self.backlog_names = write_files(self.backlog, self.stage,
                                         self.cfg_w["backlog_files"], "bl0")
        stamp["backlog_events"] = len(self.backlog)
        self.layer: dict = {}
        self.e2e: dict = {}
        self.spawns: dict = {}    # processes spawned in each phase
        self.wall: dict = {}     # wall-clock figures, reported in the stamp

    def ckpts(self) -> list[str]:
        return [os.path.join(self.ckpt, sub) for sub in self.sinks]

    def publish(self, name: str) -> None:
        os.rename(os.path.join(self.stage, name), os.path.join(self.src, name))

    def setup(self, tracer, trace: bool):
        """Session, registry and job build (``setup_s``: CPU seconds of the
        benchmark process, the JVM and its workers)."""
        cpu = procstat.tree_cpu_s(os.getpid(), include_root=True)
        n0, t0 = procstat.spawned(), time.time()
        with tracer.span("setup"):
            with tracer.span("session"):
                from streamforge_spark.session import get_spark
                self.spark = get_spark(f"perfbench-{self.args.workload}")
                self.spark.sparkContext.setLogLevel("ERROR")
            self.layer["session.start_s"] = time.time() - t0
            self.listener = None
            if trace:
                import tracing as tr
                self.listener = tr.ProgressListener()
                self.spark.streams.addListener(self.listener)
            t = time.time()
            with tracer.span("registry"):
                from streamforge_spark import registry
                registry.load_all()
            self.layer["registry.load_s"] = time.time() - t
            from streamforge_spark.config import ScopedConfig
            from streamforge_spark.jobs import JOB_REGISTRY
            cfg = ScopedConfig(config_file=None, env_file=None, environ={},
                               overrides=self.overrides)
            cfg.activate_job(self.cfg_w["job"])
            t = time.time()
            with tracer.span("jobs.build"):
                self.queries = JOB_REGISTRY[self.cfg_w["job"]](self.spark, cfg)
            self.layer["jobs.build_s"] = time.time() - t
        self.e2e["setup_s"] = procstat.tree_cpu_s(os.getpid(), include_root=True) - cpu
        self.spawns["setup_s"] = procstat.spawned() - n0
        self.wall["setup_s"] = time.time() - t0
        log(f"set up in {self.wall['setup_s']:.2f}s, {self.e2e['setup_s']:.2f} CPU s")

    def drain(self, tracer) -> None:
        """Publish a backlog at once and time until every query is idle;
        repeat with a fresh backlog while less than ``--seconds`` has
        passed.  ``drain_eps`` is events over drain time summed over the
        backlogs, ``drain_cpu_s`` the CPU seconds per backlog."""
        rounds: list[dict] = []
        t_end = time.time() + self.args.seconds
        with tracer.span("drain"):
            for r in range(MAX_ROUNDS):
                if r and time.time() >= t_end:
                    break
                events, names = self.backlog, self.backlog_names
                if r:
                    events = wl.events_for(self.args.workload, self.args.seed, r,
                                           len(self.backlog))
                    names = write_files(events, self.stage,
                                        self.cfg_w["backlog_files"], f"bl{r}")
                rounds.append(self.drain_backlog(tracer, r, events, names))
                self.drained += events
        self.e2e["drain_cpu_s"] = sum(d["cpu_s"] for d in rounds) / len(rounds)
        self.spawns["drain_cpu_s"] = sum(d["spawns"] for d in rounds) / len(rounds)
        self.wall["drain_eps"] = (sum(d["events"] for d in rounds)
                                  / sum(d["wall_s"] for d in rounds))
        self.stamp["drain_rounds"] = rounds

    def drain_backlog(self, tracer, r: int, events: list, names: list[str]) -> dict:
        ckpts = self.ckpts()
        with tracer.span("drain.backlog", round=r, events=len(events)):
            batches = [_last_id(f"{c}/commits") for c in ckpts]
            cpu, steal = procstat.tree_cpu_s(os.getpid()), procstat.steal_s()
            n0, t = procstat.spawned(), time.time()
            for name in names:
                self.publish(name)
            for q in self.queries:
                q.processAllAvailable()
            wall = wait_quiet(ckpts, self.queries) - t
            d = dict(events=len(events), wall_s=wall,
                     cpu_s=procstat.tree_cpu_s(os.getpid()) - cpu,
                     spawns=procstat.spawned() - n0,
                     steal_s=procstat.steal_s() - steal,
                     batches=[_last_id(f"{c}/commits") - b
                              for c, b in zip(ckpts, batches)])
        log(f"drained {len(events)} events in {wall:.2f}s, {d['cpu_s']:.2f} CPU s, "
            f"{d['batches']} micro-batches")
        return d

    def open_loop(self, tracer) -> None:
        """Traced runs: ``publisher.py`` publishes a one-second burst of
        ``BURST_FILES`` files on its fixed schedule; per-file latency is
        the primary query's commit time minus the time the file was due."""
        spec = dict(workload=self.args.workload, seed=self.args.seed,
                    phase=BURST_PHASE,
                    files=BURST_FILES, events_per_file=self.cfg_w["burst_events"],
                    interval_s=1.0 / BURST_FILES,
                    stage_dir=os.path.join(self.work, "stage-openloop"),
                    source_dir=self.src,
                    log_path=os.path.join(self.work, "published.json"),
                    start_at=time.time() + 0.5)
        spec_path = os.path.join(self.work, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        self.stamp["open_loop"] = {"files": BURST_FILES, "files_per_s": BURST_FILES,
                                   "events_per_s": BURST_FILES * spec["events_per_file"]}
        with tracer.span("open_loop", files=BURST_FILES):
            pub = subprocess.Popen([sys.executable,
                                    os.path.join(HERE, "publisher.py"), spec_path])
            if procstat.wait_for_exit(pub, 60) != 0:
                raise RuntimeError(f"publisher exited with {pub.returncode}")
            with open(spec["log_path"]) as f:
                self.published = json.load(f)
            names = [row[0] for row in self.published]
            for c in self.ckpts():
                wait_committed(c, names, self.queries)
        primary = os.path.join(self.ckpt, self.cfg_w["primary"])
        self.batch_of = file_batches(primary)
        committed = commit_times(primary)
        latencies = [committed[self.batch_of[name]] - due
                     for name, due, _ in self.published]
        self.layer["openloop.latency_p50_s"] = statistics.median(latencies)
        self.layer["openloop.latency_p95_s"] = percentile(latencies, 0.95)

    def published_events(self) -> list[wl.Event]:
        """Every event the job was offered, in publish order."""
        return self.drained + self.burst

    def stop_queries(self) -> None:
        for q in self.queries:
            q.stop()

    def stop(self) -> None:
        """Stop the session, then close the JVM's input and wait until it
        has exited (it exits at end of input, its Python workers with it),
        so no process outlives the run."""
        from pyspark import SparkContext
        self.spark.stop()
        jvm = SparkContext._gateway.proc
        jvm.stdin.close()
        procstat.wait_for_exit(jvm, 60)


def run_streaming(args, work: str, stamp: dict) -> dict:
    import tracing as tr
    trace = bool(args.trace)
    run = Run(args, work, stamp)
    log("inputs generated")
    tracer = tr.Tracer() if trace else tr.NullTracer()
    with tracer.span("run", workload=args.workload, seed=args.seed) as run_span:
        run.setup(tracer, trace)
        run.drain(tracer)
        if args.drain_only:
            run.stop_queries()
            run.stop()
            return dict(e2e=run.e2e, wall=run.wall, layer={},
                        attempted=len(run.drained), failed=0, tracer=tracer)
        if trace:
            run.open_loop(tracer)
        run.stop_queries()
        events = run.published_events()
        with tracer.span("check"):
            exp = wl.model(args.workload, events, run.reference)
            stamp["outcomes"] = dict(exp.outcomes)
            failed = check(args.workload, run.out, exp, events)
        if trace:
            run.layer.update(streaming_layers(run, exp, events, tracer, run_span))
    run.stop()
    log("session stopped")
    if trace:
        run.layer.update(engine_layers(tracer, run_span, work, run.batch_spans))
        written = run.layer["sinks.bytes_written_mb"]
        run.layer["sinks.write_amplification"] = (
            written / run.layer["sinks.output_mb"] if run.layer["sinks.output_mb"] else 0.0)
        one_core = single_core_drain_eps(args) if args.workload == "cdc_egress" else None
        run.layer["parallel_speedup"] = run.wall["drain_eps"] / one_core if one_core else 0.0
    run.layer.update({f"wall.{k}": v for k, v in run.wall.items()})
    run.layer["drain.process_spawns"] = run.spawns["drain_cpu_s"]
    stamp["spawns"] = run.spawns
    return dict(e2e=dict(run.e2e, drain_eps=run.wall["drain_eps"]),
                wall=run.wall, layer=run.layer,
                attempted=len(events), failed=failed, tracer=tracer)


def single_core_drain_eps(args) -> float | None:
    """``drain_eps`` of the same backlog on ``local[1]``, in a child run;
    None if it cannot finish before this run's 170-second mark."""
    budget = 170 - (time.time() - procstat.process_start_epoch())
    if budget < 30:
        log(f"no time left for the single-core drain ({budget:.0f}s)")
        return None
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", "0", "--drain-only"],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)     # the child and its JVM
        proc.communicate()
        shutil.rmtree(os.path.join(ROOT, ".perfbench",
                                   f"{args.workload}-{args.seed}-{proc.pid}"),
                      ignore_errors=True)
        log(f"single-core drain did not finish within {budget:.0f}s")
        return None
    if proc.returncode != 0:
        raise RuntimeError(f"single-core drain failed: {err[-2000:]}")
    return json.loads(out.strip().splitlines()[-2])["stamp"]["wall"]["drain_eps"]


def streaming_layers(run: Run, exp: wl.Expected, events: list, tracer,
                     run_span: dict) -> dict:
    """Per-layer metrics read while the session is up: the envelope
    parser alone, and the listener's micro-batch progress."""
    import tracing as tr
    from streamforge_spark.envelope import parse_stream_envelop
    m: dict = {}
    spark = run.spark
    with tracer.span("envelope.parse") as span:
        spark.sparkContext.setJobDescription(tr.job_description(span))
        raw = spark.read.text(os.path.join(run.src, "bl0-*.json"))
        ok, dlq = parse_stream_envelop(raw)
        t = time.time()
        ok.write.format("noop").mode("overwrite").save()
        dlq.write.format("noop").mode("overwrite").save()
        m["envelope.parse_eps"] = len(run.backlog) / (time.time() - t)
        spark.sparkContext.setJobDescription(None)
    m["envelope.dlq_share"] = exp.outcomes["parse_dlq"] / len(events)

    sink_of = {str(q.id): sub for q, sub in zip(run.queries, run.sinks)}
    batches = run.listener.batches()
    run.batch_spans = tr.add_batch_spans(tracer, batches, sink_of, run_span["id"])
    primary = [p for p in batches if sink_of.get(p["id"]) == run.cfg_w["primary"]]

    m["sources.read_amplification"] = (
        sum(p["numInputRows"] for p in batches) / len(events))
    start_of = {p["batchId"]: tr.epoch(p["timestamp"]) for p in primary}
    read_at = sorted(start_of[run.batch_of[name]] for name, _, _ in run.published)
    pub_at = sorted(p for _, _, p in run.published)
    m["sources.backlog_files_max"] = max(
        sum(1 for x in pub_at if x <= t) - sum(1 for x in read_at if x <= t)
        for t in pub_at)
    m["sources.generator_lag_s_max"] = max(p - due for _, due, p in run.published)

    dur = [p["durationMs"] for p in batches]
    m["microbatch.count"] = len(batches)
    m["microbatch.no_data_count"] = sum(1 for p in batches if p["numInputRows"] == 0)
    m["microbatch.trigger_ms_p50"] = tr.p50(d["triggerExecution"] for d in dur)
    m["microbatch.add_batch_ms_p50"] = tr.p50(d["addBatch"] for d in dur)
    m["microbatch.driver_ms_p50"] = tr.p50(
        d["triggerExecution"] - d["addBatch"] for d in dur)
    m["microbatch.query_planning_ms_p50"] = tr.p50(d.get("queryPlanning", 0) for d in dur)
    m["microbatch.get_batch_ms_p50"] = tr.p50(d.get("getBatch", 0) for d in dur)

    m.update(tr.state_metrics("dedup", "dedupeWithinWatermark", batches))
    m.update(tr.state_metrics("materialize", "applyInPandasWithState", batches))
    mat = [p for p in batches if any(o["operatorName"] == "applyInPandasWithState"
                                     for o in p.get("stateOperators", []))]
    m["materialize.add_batch_ms_p50"] = tr.p50(p["durationMs"]["addBatch"] for p in mat)
    upsert = [p for p in batches if sink_of.get(p["id"]) == "upsert"]
    m["sinks.upsert_add_batch_ms_p50"] = tr.p50(p["durationMs"]["addBatch"] for p in upsert)

    files = size = 0
    for dirpath, dirnames, filenames in os.walk(run.out):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")
                       and d != "_spark_metadata"]
        for f in filenames:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    m["sinks.output_files"] = files
    m["sinks.output_mb"] = size / 2**20
    return m


def engine_layers(tracer, run_span: dict, work: str, batch_spans: dict) -> dict:
    """Per-layer metrics from the Spark event log (complete once the
    session has stopped)."""
    import tracing as tr
    return tr.engine_metrics(tr.read_event_logs(os.path.join(work, "eventlog")),
                             run_span["end"] - run_span["start"],
                             int(os.environ["SPARK_GRAFT_CPUS"]), tracer, batch_spans)


SINKS = {"cdc_egress": ["out", "dlq_parse", "dlq_schema"],
         "changelog_materialize": ["changelog", "dlq_parse"],
         "cdc_ingress_upsert": ["upsert", "dlq_parse", "dlq_constraint"]}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SETTINGS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--drain-only", action="store_true",
                    help="set up and drain only (the traced run's single-core drain)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "streamforge_spark")):
        print(f"streamforge_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work, bool(args.trace))
    stamp = {"workload": args.workload, "seed": args.seed,
             "seconds": args.seconds, "trace": args.trace,
             "git_commit": git_commit(), "nproc": nproc(),
             "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
             "loadavg_start": procstat.loadavg()}
    try:
        with procstat.RssSampler() as rss:
            res = run_streaming(args, work, stamp)
        stamp["loadavg_end"] = procstat.loadavg()
        stamp["end_to_end"] = res["e2e"]
        stamp["wall"] = res["wall"]
        layer = dict(res["layer"], **{"memory.peak_rss_mb": rss.peak_mb})
        stamp["per_layer"] = layer
        print(json.dumps({"stamp": stamp}), flush=True)
        if args.trace:
            trace_dir = os.path.join(ROOT, ".perfbench", "trace")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
                      "w") as f:
                json.dump({"stamp": stamp, "spans": res["tracer"].spans}, f)
            metrics = {k: {"value": v, "unit": layer_unit(k)}
                       for k, v in sorted(layer.items())}
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in stamp["end_to_end"].items()}
        print(json.dumps({"correct": res["failed"] == 0,
                          "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
