#!/usr/bin/env python3
"""graft benchmark: drives SparkEntry.queries through the JVM harness
(graftbench/src), checks every written result against its DuckDB oracle
or band check, and prints the metrics as one JSON line.

    python3 graftbench/run.py --workload sql_mr --seed 1 --seconds 30 --trace 0
    python3 graftbench/run.py --workload dedup_ann --seed 1 --seconds 30 --trace 1

Run from the root of a checkout. The first run builds the harness with
sbt, generates the benchmark data and caches the oracle expectations,
all under .bench_build/graftbench/. See graftbench/README.md.
"""
import argparse
import contextlib
import glob
import hashlib
import importlib.util
import io
import json
import math
import os
import pickle
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "graftbench")

# Workloads partition SparkEntry.queries by name. Every BAND_CHECKS pair
# (a band query and the sibling output it is checked against) stays
# inside one workload.
WORKLOADS = {
    "sql_mr": (r"q\d+_.*|mj_word_count|asof_.*|agg_.*"
               r"|stream_hourly_counts|stream_hopping_counts"),
    "dedup_ann": (r"dedup_.*|ann_.*|emb_.*|stream_ann_.*|stream_index_append"
                  r"|stream_semantic|stream_near_dup|stream_edit_dedup"),
    "corpus_text": (r"corpus_.*|text_.*|mm_.*|contamination|stream_curated"
                    r"|stream_quality_gate|stream_temperature_gate"),
}

# The queries one benchmark run measures: a fixed core of each workload,
# small enough that a run (fresh JVM, cold sweep, warm-up, timed sweeps,
# checks) fits the benchmark's time budget. Each core keeps its
# workload's reason to exist and every band pair it touches.
CORE = {
    "sql_mr": ["q2_regex_filter", "q3_equi_join", "mj_word_count", "q9_star_join",
               "q27_approx_distinct", "asof_join", "agg_typed_sum", "stream_hourly_counts"],
    "dedup_ann": ["ann_brute_force", "ann_ivf", "stream_ann_ivf_pq", "dedup_minhash_lsh",
                  "dedup_clusters", "dedup_exact"],
    "corpus_text": ["corpus_boilerplate", "corpus_strip_boilerplate", "contamination",
                    "corpus_curated", "corpus_scrub_spans", "text_tfidf", "mm_image_ahash",
                    "mm_avi_frame_ahash"],
}

# Module of a query, for the entry layer's <module>.build_s / .sink_s.
MODULES = [
    (r"q\d+_.*|asof_.*", "ops"), (r"mj_.*", "mr"), (r"agg_.*", "functions"),
    (r"dedup_.*", "dedup"), (r"ann_.*|emb_.*", "sim"), (r"stream_.*", "streaming"),
    (r"text_.*", "text"), (r"corpus_.*|contamination", "pipeline"), (r"mm_.*", "mm"),
]

# Injected failure queries (Harness --inject) and the oracle each is
# checked against.
INJECTED = {"inject_throw": "q1_agg", "inject_wrong": "q1_agg"}

# A run times at least MIN_SWEEPS sweeps: the end-to-end metrics are
# medians over them, and the 18-24 latency samples of a core leave at
# least four beyond the tail percentile.
MIN_SWEEPS = 3
TAIL_PCT = 75
UNITS = {"sweep_s": "s", "query_p50_ms": "ms", f"query_p{TAIL_PCT}_ms": "ms", "cpu_s": "s",
         "setup_s": "s", "ok_frac": "1"}


def workload_of(name):
    hits = [w for w, rx in WORKLOADS.items() if re.fullmatch(rx, name)]
    return hits[0] if len(hits) == 1 else None


def module_of(name):
    return next((m for rx, m in MODULES if re.fullmatch(rx, name)), None)


def ordered(names, seed, families=()):
    """The run's query order: a permutation of the workload fixed by the
    seed, used by every sweep of the run. The consumers of each memo family
    keep their name order among the places the permutation gives them, so
    the same consumer pays for the family's shared build under every seed;
    otherwise the latency percentiles would measure which query the seed
    put first rather than the engine."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    for fam in families:
        slots = [i for i, q in enumerate(order) if q in fam]
        for i, q in zip(slots, sorted(order[i] for i in slots)):
            order[i] = q
    return order


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _read(path):
    with open(path) as fh:
        return fh.read()


def _source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{ROOT}/src/main/**/*", recursive=True) +
                   glob.glob(f"{HERE}/src/**/*", recursive=True) +
                   [f"{ROOT}/build.sbt", f"{ROOT}/project/build.properties",
                    f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for f in filter(os.path.isfile, files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile the engine and the harness (sbt, once per source state) and
    return (java command prefix, catalog of queries and oracle SQL)."""
    if not (os.path.isfile(f"{ROOT}/build.sbt") and
            os.path.isfile(f"{ROOT}/src/main/scala/graft/SparkEntry.scala")):
        raise SystemExit("graftbench: no graft sources next to the benchmark "
                         "(run from the root of a checkout)")
    bdir = f"{WORK}/build"
    os.makedirs(bdir, exist_ok=True)
    stamp = _source_stamp()
    cp_file, cat_file, stamp_file = (f"{bdir}/classpath.txt", f"{bdir}/catalog.json",
                                     f"{bdir}/stamp")
    if not (os.path.exists(stamp_file) and _read(stamp_file) == stamp):
        log("building harness with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        # the same offline defaults the repository's test command uses
        repos = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else ""))
        build_log = f"{bdir}/sbt.log"
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export graftbench/Runtime/fullClasspath"],
                       build_log, timeout=800, cwd=HERE, env=env)
        with open(build_log) as fh:
            lines = fh.read().strip().splitlines()
        if rc != 0 or not lines:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            raise SystemExit("graftbench: sbt build failed")
        with open(cp_file, "w") as fh:
            fh.write(lines[-1].strip())
        if run_child(java_cmd(cp_file) + ["graft.bench.Harness", "--list", cat_file],
                     f"{bdir}/list.log", timeout=120) != 0:
            raise SystemExit("graftbench: listing the query catalog failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    with open(cat_file) as fh:
        return java_cmd(cp_file), json.load(fh)


def run_child(cmd, log_path, timeout, **kw):
    """Runs cmd to its end with its output in log_path and returns its exit
    code. The child never outlives this call: on a timeout, an exception
    or SIGTERM (see main) it is killed and waited for."""
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, **kw)
        try:
            return p.wait(timeout=timeout)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def java_cmd(cp_file, heap="3g"):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    with open(cp_file) as fh:
        cp = fh.read().strip()
    return (["java", f"-Xmx{heap}", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={WORK}/tmp", f"-Dspark.local.dir={WORK}/tmp",
             "-Dlog4j2.level=WARN"] +
            [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] + ["-cp", cp])


def ensure_data(java):
    """Generate the benchmark tables once per generator source state."""
    data = f"{WORK}/data"
    h = hashlib.sha256()
    for f in [f"{ROOT}/src/main/scala/graft/tools/ScaleGen.scala",
              f"{HERE}/src/main/scala/graft/bench/GenData.scala"]:
        with open(f, "rb") as fh:
            h.update(fh.read())
    marker = f"{data}/_graftbench_stamp"
    if not (os.path.exists(marker) and _read(marker) == h.hexdigest()):
        log("generating benchmark data")
        shutil.rmtree(data, ignore_errors=True)
        if run_child(java + ["graft.bench.GenData", data], f"{WORK}/gendata.log",
                     timeout=600) != 0:
            raise SystemExit(f"graftbench: data generation failed, see {WORK}/gendata.log")
        shutil.rmtree(f"{data}/_full")
        with open(marker, "w") as fh:
            fh.write(h.hexdigest())
    return data


# ---------------------------------------------------------------- check

def load_check():
    """tools/check.py, the repository's DuckDB compare, as a module."""
    spec = importlib.util.spec_from_file_location("graft_check", f"{ROOT}/tools/check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def data_fingerprint(data_dir):
    h = hashlib.sha256()
    for f in sorted(glob.glob(f"{data_dir}/**/*.parquet", recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, data_dir).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _out_hash(path):
    parts = []
    for f in glob.glob(f"{path}/*.parquet"):
        with open(f, "rb") as fh:
            parts.append(hashlib.sha256(fh.read()).hexdigest())
    return hashlib.sha256("".join(sorted(parts)).encode()).hexdigest() if parts else None


class Checker:
    """Checks written results the way tools/check.py does: oracle queries
    cell by cell against DuckDB (sorted columns and rows, dtype kind),
    band queries with check.py's BAND_CHECKS. Oracle expectations are
    cached on disk, keyed on the oracle SQL and the input files; verdicts
    are cached per run, keyed on the bytes of the checked outputs."""

    def __init__(self, data_dir, oracle):
        self.ck = load_check()
        if duckdb.__version__ != self.ck.VALIDATED_DUCKDB:
            # the same gate as tools/check.py: some oracles pin a DuckDB
            # version's fold order
            raise SystemExit(f"graftbench: oracle engine duckdb {duckdb.__version__} != "
                             f"validated {self.ck.VALIDATED_DUCKDB} (tools/check.py)")
        self.oracle = oracle
        self.con = duckdb.connect()
        for t in self.ck.TABLES:
            p = f"{data_dir}/{t}.parquet"
            if os.path.isdir(p):
                p = f"{p}/*.parquet"
            if glob.glob(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.data_key = data_fingerprint(data_dir)
        self.cache_dir = f"{WORK}/oracle"
        os.makedirs(self.cache_dir, exist_ok=True)
        self.verdicts = {}

    def expected(self, sql):
        key = hashlib.sha256((self.data_key + "\0" + sql).encode()).hexdigest()
        path = f"{self.cache_dir}/{key}.pkl"
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        want = self.ck.norm(self.con.execute(sql).df())
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(want, fh)
        os.replace(tmp, path)
        return want

    def compare(self, got_path, sql):
        """None when the written result matches the oracle, else why not."""
        ck = self.ck
        got = ck.norm(self.con.execute(
            f"SELECT * FROM read_parquet('{got_path}/*.parquet')").df())
        want = self.expected(sql)
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} vs {list(want.columns)}"
        for c in got.columns if len(got) else []:
            gk, wk = got[c].dtype.kind, want[c].dtype.kind
            gk, wk = ("i" if gk == "u" else gk), ("i" if wk == "u" else wk)
            if gk != wk and not (got[c].isna().all() and want[c].isna().all()):
                return f"dtype kind col {c}: {got[c].dtype} vs {want[c].dtype}"
        if len(got) != len(want):
            return f"rows {len(got)} vs {len(want)}"
        for i, (gr, wr) in enumerate(zip(got.values.tolist(), want.values.tolist())):
            for j, (g, w) in enumerate(zip(gr, wr)):
                if not ck.cmp_cell(g, w):
                    return f"row {i} col {got.columns[j]}: {g!r} vs {w!r}"
        return None

    def check(self, sweep_dir, name, hashes):
        """None when the output of `name` in `sweep_dir` is correct;
        `hashes` maps each query of the sweep to the hash of its output."""
        path = f"{sweep_dir}/{name}"
        own = hashes[name]
        if own is None:
            return "wrote no output"
        base = INJECTED.get(name, name)
        sql = self.oracle.get(base)
        band = self.ck.BAND_CHECKS.get(name)
        if sql is None and band is None:
            return "no oracle or band check"
        # A band may read sibling outputs, so its verdict is keyed on the
        # whole sweep's outputs.
        key = (name, own, tuple(sorted(hashes.items())) if band else None)
        if key not in self.verdicts:
            why = None
            try:
                if sql is not None:
                    why = self.compare(path, sql)
                if why is None and band is not None:
                    with contextlib.redirect_stdout(io.StringIO()) as out:
                        ok = band(self.con, sweep_dir, name)
                    why = None if ok else "band: " + out.getvalue().strip()[-300:]
            except Exception as e:  # a broken output is a failed check
                why = f"check error: {e}"
            self.verdicts[key] = why
        return self.verdicts[key]


# -------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def hd_quantile(xs, p, steps=64):
    """Harrell-Davis estimate of the p-quantile: a Beta((n+1)p, (n+1)(1-p))
    weighted mean of all order statistics. Latency samples cluster by query,
    and a single order statistic jumps between clusters from run to run;
    this estimate moves much less."""
    x = sorted(xs)
    n = len(x)
    if n < 2:
        return median(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(t):
        return math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t)) \
            if 0 < t < 1 else 0.0

    def mass(lo, hi):  # Simpson's rule
        h = (hi - lo) / steps
        return h / 3 * sum((1 if k in (0, steps) else 4 if k % 2 else 2) * pdf(lo + k * h)
                           for k in range(steps + 1))
    w = [mass(i / n, (i + 1) / n) for i in range(n)]
    return sum(wi * xi for wi, xi in zip(w, x)) / sum(w)


def _union_ms(intervals, lo, hi):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


# Every per-layer metric and its unit; a traced run reports all of them.
LAYERS = {f"{m}.{k}_s": "s" for m in sorted({m for _, m in MODULES}) for k in ("build", "sink")}
LAYERS.update({
    "entry.eager_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.single_task_stages": "count", "scheduler.driver_gap_s": "s",
    "executor.task_run_s": "s", "executor.task_cpu_s": "s", "executor.deser_s": "s",
    "executor.gc_s": "s", "executor.busy_frac": "1",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "io.input_mb": "MB", "io.input_rows": "count", "io.output_rows": "count",
    "memo.builds": "count", "memo.builds_per_family": "1", "memo.storage_peak_mb": "MB",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "trace.overhead_frac": "1",
})

# stage event field -> (layer metric, scale to the metric's unit)
STAGE_SUMS = {"run_ms": ("executor.task_run_s", 1e-3), "cpu_ns": ("executor.task_cpu_s", 1e-9),
              "deser_ms": ("executor.deser_s", 1e-3), "gc_ms": ("executor.gc_s", 1e-3),
              "shuffle_write_b": ("shuffle.write_mb", 2**-20),
              "shuffle_read_b": ("shuffle.read_mb", 2**-20),
              "fetch_wait_ms": ("shuffle.fetch_wait_s", 1e-3),
              "spill_b": ("shuffle.spill_mb", 2**-20), "input_b": ("io.input_mb", 2**-20),
              "input_rows": ("io.input_rows", 1), "output_rows": ("io.output_rows", 1),
              "tasks": ("scheduler.tasks", 1)}


def layer_metrics(h, events):
    """Per-layer metrics (median over the traced sweeps), the span tree and
    the per-query ledger of a traced run."""
    execs = {f'{e["sweep"]}/{e["query"]}': e for e in h["execs"] if e["traced"]}

    def owner(ev):
        # jobs and stages carry their query's label; Catalyst phases are
        # joined to the query whose interval holds their start
        if ev.get("label") in execs:
            return ev["label"]
        return next((lab for lab, e in execs.items()
                     if e["start_us"] / 1e3 - 1 <= ev["start_ms"] <= e["end_us"] / 1e3 + 1), None)

    per_exec = {lab: {"job": [], "stage": [], "catalyst": []} for lab in execs}
    for ev in events:
        lab = owner(ev)
        if lab is not None:
            per_exec[lab][ev["kind"]].append(ev)

    sweeps = {s["sweep"]: s for s in h["sweeps"] if s["traced"]}
    per_sweep = {}
    for sw, rec in sweeps.items():
        m = per_sweep[sw] = dict.fromkeys(LAYERS, 0.0)
        m["memo.builds"] = rec["memo_builds"]
        m["memo.builds_per_family"] = (rec["memo_builds"] / rec["memo_families"]
                                       if rec["memo_families"] else 0.0)
        m["memo.storage_peak_mb"] = rec["storage_peak_mb"]
        m["codegen.compiles"] = rec["codegen_compiles"]
        m["codegen.compile_s"] = rec["codegen_compile_s"]
    spans, ledger = [], {}
    for lab, e in execs.items():
        m, ev = per_sweep[e["sweep"]], per_exec[lab]
        mod = module_of(INJECTED.get(e["query"], e["query"]))
        s_ms, e_ms = e["start_us"] / 1e3, e["end_us"] / 1e3
        b_ms = e["build_end_us"] / 1e3 if e["build_end_us"] > 0 else e_ms
        m[f"{mod}.build_s"] += (b_ms - s_ms) / 1e3
        m[f"{mod}.sink_s"] += (e_ms - b_ms) / 1e3

        def phase(x):
            # jobs and stages carry the harness's phase property; Catalyst
            # events carry their own phase name, so they go by time
            if x["kind"] != "catalyst" and x.get("phase") in ("build", "sink"):
                return x["phase"]
            return "build" if x["start_ms"] < b_ms else "sink"
        catalyst = 0.0
        for c in ev["catalyst"]:
            if f"catalyst.{c['phase']}_s" in m:
                m[f"catalyst.{c['phase']}_s"] += (c["end_ms"] - c["start_ms"]) / 1e3
                catalyst += c["end_ms"] - c["start_ms"]
        m["entry.eager_jobs"] += sum(phase(j) == "build" for j in ev["job"])
        m["scheduler.jobs"] += len(ev["job"])
        m["scheduler.stages"] += len(ev["stage"])
        m["scheduler.single_task_stages"] += sum(st["tasks"] == 1 for st in ev["stage"])
        for st in ev["stage"]:
            for field, (name, scale) in STAGE_SUMS.items():
                m[name] += st[field] * scale
        stage_ms = _union_ms([(st["start_ms"], st["end_ms"]) for st in ev["stage"]], s_ms, e_ms)
        m["scheduler.driver_gap_s"] += (e_ms - s_ms - stage_ms) / 1e3

        # span tree: query -> build | sink -> job | stage | Catalyst phase
        spans.append({"id": lab, "parent": None, "name": "query", "start_ms": s_ms,
                      "end_ms": e_ms, "error": e["error"]})
        spans += [{"id": f"{lab}/{k}", "parent": lab, "name": k, "start_ms": a, "end_ms": b}
                  for k, a, b in [("build", s_ms, b_ms), ("sink", b_ms, e_ms)]]
        spans += [{"id": f"job{j['id']}", "parent": f"{lab}/{phase(j)}", "name": "job",
                   "start_ms": j["start_ms"], "end_ms": j["end_ms"]} for j in ev["job"]]
        spans += [{"id": f"stage{st['id']}.{st['attempt']}", "parent": f"{lab}/{phase(st)}",
                   "name": "stage", "start_ms": st["start_ms"], "end_ms": st["end_ms"],
                   "tasks": st["tasks"]} for st in ev["stage"]]
        spans += [{"id": f"{lab}/{c['phase']}.{i}", "parent": f"{lab}/{phase(c)}",
                   "name": c["phase"], "start_ms": c["start_ms"], "end_ms": c["end_ms"]}
                  for i, c in enumerate(ev["catalyst"])]

        def job_ms(ph, lo, hi):
            return _union_ms([(j["start_ms"], j["end_ms"]) for j in ev["job"]
                              if phase(j) == ph], lo, hi)
        ledger.setdefault(e["query"], []).append({
            "wall": e_ms - s_ms, "build": b_ms - s_ms, "sink": e_ms - b_ms,
            "build_self": b_ms - s_ms - job_ms("build", s_ms, b_ms),
            "sink_self": e_ms - b_ms - job_ms("sink", b_ms, e_ms),
            "catalyst": catalyst, "jobs": len(ev["job"]), "stages": len(ev["stage"]),
            "driver_gap": e_ms - s_ms - stage_ms})
    for sw, rec in sweeps.items():
        per_sweep[sw]["executor.busy_frac"] = (per_sweep[sw]["executor.task_run_s"] /
                                               (h["cores"] * rec["wall_s"]))
    totals = {k: median([m[k] for m in per_sweep.values()]) for k in LAYERS}
    # each traced sweep against the untraced sweeps next to it, so the
    # warm-up trend across the run does not read as tracing overhead
    sw = h["sweeps"]
    totals["trace.overhead_frac"] = median([
        sw[i]["wall_s"] / statistics.mean(sw[j]["wall_s"] for j in (i - 1, i + 1)
                                          if 0 <= j < len(sw) and not sw[j]["traced"]) - 1
        for i in range(len(sw)) if sw[i]["traced"]])
    ledger = {q: {k: median([r[k] for r in rows]) for k in rows[0]}
              for q, rows in ledger.items()}
    return totals, spans, ledger


# ------------------------------------------------------------------ run

def run(workload, seed, seconds, trace, only=None, inject=False, min_sweeps=None):
    """Runs one benchmark invocation; returns (result line, full record).
    `only`, `inject` and `min_sweeps` are for the self-tests: such a run
    leaves no result record."""
    t_main = time.time()
    java, catalog = ensure_build()
    data_dir = ensure_data(java)
    names = [q for q in catalog["queries"] if workload_of(q) == workload and
             q in (only or CORE[workload])]
    order = (ordered(names, seed, [set(f) for f in catalog["families"].values()]) +
             (sorted(INJECTED) if inject else []))
    out = f"{WORK}/runs/{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(f"{WORK}/tmp", exist_ok=True)
    cmd = java + ["graft.bench.Harness", "--data", data_dir, "--out", out,
                  "--queries", ",".join(order), "--seconds", str(seconds),
                  "--trace", str(trace),
                  "--min-sweeps", str(min_sweeps or MIN_SWEEPS)]
    if inject:
        cmd.append("--inject")
    log(f"{workload}: {len(order)} queries, seed {seed}, {seconds} s, trace {trace}")
    # a benchmark run must end within 180 s of its start
    rc = run_child(cmd, f"{out}/harness.log", timeout=150)
    if rc != 0:
        with open(f"{out}/harness.log") as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"graftbench: harness exited {rc}")
    with open(f"{out}/harness.json") as fh:
        h = json.load(fh)

    # correctness, outside the timed region
    t_check = time.time()
    checker = Checker(data_dir, catalog["oracle"])
    failures = []
    hashes = {}
    for e in h["execs"]:
        sw_dir = f'{out}/{e["sweep"]}'
        if e["sweep"] not in hashes:
            hashes[e["sweep"]] = {q: _out_hash(f"{sw_dir}/{q}") for q in order}
        why = e["error"] or checker.check(sw_dir, e["query"], hashes[e["sweep"]])
        e["ok"] = why is None
        if why:
            failures.append(f'{e["sweep"]}/{e["query"]}: {why}')
    for f in failures[:20]:
        log(f"FAILED {f}")
    check_s = time.time() - t_check

    samples = [(e["end_us"] - e["start_us"]) / 1e3 for e in h["execs"]
               if e["ok"] and not e["traced"]]
    attempted = len(h["execs"])
    failed = attempted - sum(e["ok"] for e in h["execs"])
    plain = [s for s in h["sweeps"] if not s["traced"]]
    metrics = {
        "sweep_s": median([s["wall_s"] for s in plain]),
        "query_p50_ms": hd_quantile(samples, 0.5),
        f"query_p{TAIL_PCT}_ms": hd_quantile(samples, TAIL_PCT / 100),
        "cpu_s": median([s["cpu_s"] for s in plain]),
        "setup_s": (h["first_timed_ms"] - h["jvm_start_ms"]) / 1e3,
        "ok_frac": (attempted - failed) / attempted,
    }
    context = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "nproc": os.cpu_count(), "cores": h["cores"], "data_dir": data_dir,
        "commit": git_commit(), "source_sha256": _source_stamp(),
        "load_start": h["load_start"], "load_timed": h["load_timed"],
        "load_end": h["load_end"], "ambient": h["ambient"],
        "session_s": h["session_s"], "warm_sweeps_s": h["warm_sweeps_s"],
        "check_s": check_s,
        "timed_sweeps": len(plain), "samples": len(samples),
        "attempted": attempted, "failed": failed, "wall_s": time.time() - t_main,
    }
    record = {"context": context, "metrics": {k: {"value": v, "unit": UNITS[k]}
                                              for k, v in metrics.items()},
              "failures": failures,
              "execs": [[e["sweep"], e["query"], (e["end_us"] - e["start_us"]) / 1e3, e["ok"]]
                        for e in h["execs"]]}
    if trace:
        with open(f"{out}/events.jsonl") as fh:
            events = [json.loads(line) for line in fh if line.strip()]
        totals, spans, ledger = layer_metrics(h, events)
        record["layers"] = {k: {"value": v, "unit": LAYERS[k]} for k, v in totals.items()}
        record["ledger_ms"] = ledger
        with open(f"{WORK}/spans-{workload}-{seed}.jsonl", "w") as fh:
            for s in spans:
                fh.write(json.dumps(s) + "\n")
        print_ledger(ledger)
    if not (only or inject or min_sweeps):
        os.makedirs(f"{WORK}/results", exist_ok=True)
        with open(f"{WORK}/results/{workload}-{seed}-{trace}.json", "w") as fh:
            json.dump(record, fh, indent=1)
    shutil.rmtree(out, ignore_errors=True)

    shown = record["layers"] if trace else record["metrics"]
    for k, v in shown.items():
        print(f"{k:34s} {v['value']:14.4f} {v['unit']}")
    print("context " + json.dumps(context))
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": shown}
    return line, record


def print_ledger(ledger):
    cols = ["wall", "build", "sink", "build_self", "sink_self", "catalyst", "jobs",
            "stages", "driver_gap"]
    print("ledger (median over traced sweeps, ms; uncovered = wall - build - sink)")
    print(f"{'query':30s} " + " ".join(f"{c:>10s}" for c in cols) + f" {'uncovered':>10s}")
    for q, r in sorted(ledger.items(), key=lambda kv: -kv[1]["wall"]):
        print(f"{q:30s} " + " ".join(f"{r[c]:10.1f}" for c in cols) +
              f" {r['wall'] - r['build'] - r['sink']:10.3f}")


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    line, _ = run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
