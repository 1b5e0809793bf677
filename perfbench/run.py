#!/usr/bin/env python3
"""The repo's benchmark: seeded workloads against the compiled engine.

    python3 perfbench/run.py --workload medallion|analytics --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine with
sbt into `target/`; later runs reuse it while the sources are unchanged.
Each run is one client in a closed loop inside one process, at
local[nproc] with shuffle partitions = nproc, in UTC, with tier-1's
driver-memory rule. Inputs come from the seed only; all run state lives
in a private directory under `.perfbench/` that is removed at exit.

Workloads (cycles repeat until `--seconds` have passed and at least
MIN_CYCLES have run):

  medallion  set-up: phase a, `Pipeline.run` full load into an empty root
             (the first, cold run in the JVM, which is also the warm-up).
             Each cycle is phase c, the unchanged rerun on that root: the
             incremental path with an empty increment, checked every time.
             Phase b, the incremental run after 7 more days per series and
             ~1 % more ANP rows, runs in the traced run.
  analytics  phase a: the heavy queries, phase b: the light queries (one
             pass, both sets in seed-shuffled order, `noop` sink);
             phase c: one round of serving-index probes (`Queries.probeOnly`)
             against indexes set-up builds. Set-up runs the cold pass;
             after the cycles, one untimed repeat of every query and probe
             is written and checked against the DuckDB oracle.

End-to-end metrics (`--trace 0`): `setup_s` is session start plus
(medallion) phase a, or (analytics) the cold pass, the index builds
and the first probe; input generation is reported in the provenance line
only. Set-up ends with the workload's WARMUP cycles, whose time is in
`setup_s`: the JVM keeps warming over the first cycles (medallion 8.2,
7.7, 6.8, 6.3 s on a 4-core box), and a median taken on that slope
follows the warm-up speed. `cycle_cpu_s` is the median CPU time (user +
system) the engine's JVM spends on one cycle: on a shared host, hypervisor
steal made a cycle's wall time swing by 30-60 % for minutes at a time,
longer than a run, while its CPU time, which leaves stolen time out, moved
20-30 %. So the cycle metric counts work, not waiting: a change that only
puts idle cores to use shows in the wall times, not there. `ok_ratio`
is the share of operations, set-up's included, that ran and passed their
output check. The wall time, CPU time and stolen CPU time (`/proc/stat`)
of every cycle are in the provenance line; wall times per phase are also
per-layer metrics.

Per-layer metrics (`--trace 1`) come from a separate run: after an
untraced set-up, phases a, b and c (medallion, on a fresh root) or one
cycle (analytics) run traced: per-phase job, stage, task, driver-gap,
executor and I/O counters; medallion layer shares from a step-by-step
replay of `Pipeline.run`; query, family and serving-index counters for
analytics. A layer the workload does not touch reads 0.

The last stdout line is the result:
`{"correct", "attempted", "failed", "metrics"}`. The line before it is the
run's provenance (source digest, git sha when present, nproc, JDK and
Spark versions, /proc/loadavg at start and end, phase samples).
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402

import engine  # noqa: E402
import medallion  # noqa: E402
import tables  # noqa: E402
from trace import EventLog, Jobs, Tracer, covered, dump, self_time  # noqa: E402

REPO = os.path.dirname(HERE)
PHASES = ("a", "b", "c")
# Sized so that a run of either workload stays near a minute on a 4-core
# box: the per-query and per-job floor, not data volume, dominates here.
HEAVY = ["q107_fuzzy_refine"]
LIGHT = ["q01_monthly_agg", "q05_dedup_keepfirst", "q29_tumbling_window"]
PROBES = ["q198_bm25_probe"]
FAMILIES = {"relational": "RelationalQueries", "event": "EventQueries",
            "corpus": "CorpusQueries"}
MED_SIZE = dict(n_series=3, days=120, anp_rows=5_000)
CFG_START, CFG_END = "2022-01-01", "2025-12-31"
# cycle_cpu_s is the median of at least this many cycles. BENCHMARK.json's
# run_seconds is shorter than this many cycles take, so every run times
# exactly this many, at the same point of the JVM's warm-up: the time per
# cycle still falls from one cycle to the next, and a faster box that fit
# one more cycle in read 10-20 % lower.
MIN_CYCLES = 3


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return None


def steal_s():
    """CPU time stolen from this box by the hypervisor so far, summed over
    its CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def git_sha():
    if not os.path.isdir(os.path.join(REPO, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True)
    return r.stdout.strip() or None


def heap_live_mb(jvm):
    """Driver heap still in use after a full GC: what the run left cached.
    The JVM's peak RSS is not used because at this heap size it follows GC
    timing (1.6-2.5 GB across identical runs), not the program. This too
    swings (75-340 MB), so it is a per-layer number without a bound."""
    used = []
    for _ in range(2):
        jvm.System.gc()
        used.append(jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
                    .getHeapMemoryUsage().getUsed())
    return min(used) / 2**20


def files_since(root, t0):
    """Data files (no hidden checksum files) under `root` modified at or
    after `t0`."""
    n = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if not f.startswith(".") and os.path.getmtime(os.path.join(d, f)) >= t0 - 0.001:
                n += 1
    return n


class Run:
    """Shared state of one benchmark run."""

    def __init__(self, args, work):
        self.args, self.work = args, work
        self.cores = os.cpu_count() or 1
        self.rng = random.Random(args.seed)
        self.attempted = self.failed = 0
        self.errors = []
        self.info = {}

    def record(self, ok, what=""):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def session(self, tr):
        """Start the SparkSession; returns the time it took."""
        with tr.span("setup/session") as s:
            self.spark = engine.start(REPO, self.work, self.cores)
        self.S = engine.Scala(self.spark)
        self.jvm = self.S.jvm
        self.info.update(jdk=self.jvm.System.getProperty("java.version"),
                         spark=self.spark.version)
        return s.dur

    def generate(self, tr, gen):
        """Write the seeded inputs with `gen(dir)`; returns the input dir and
        `gen`'s result. The time goes to the provenance line only."""
        d = os.path.join(self.work, "input")
        with tr.span("setup/generate") as s:
            out = gen(d)
        self.info["gen_s"] = s.dur
        return d, out


def _marks(state_json):
    try:
        with open(state_json) as f:
            st = json.load(f)
    except OSError:
        return None
    return {k: st.get(k) for k in ("bcb_last_date", "anp_last_period")}


# ------------------------------------------------------------------ medallion

class Medallion:
    WARMUP = 2  # cycles; the second still ran 0.5-1 s slower than the third

    def __init__(self, run):
        self.run = run
        self.files = {}  # phase -> files its last run wrote
        self.n = 0

    def setup(self, tr):
        r = self.run
        session_s = r.session(tr)
        _, self.inputs = r.generate(tr, lambda d: medallion.generate(r.args.seed, d, **MED_SIZE))
        jvm, S = r.jvm, r.S
        self.fetchers = {}
        for step in ("base", "incr"):
            payloads = {jvm.graft.sources.BcbSource.url(sid, CFG_START, CFG_END):
                        self.inputs.bcb_payload(sid, step) for sid, *_ in self.inputs.enabled()}
            with open(self.inputs.ibge_json, encoding="utf-8") as f:
                payloads[jvm.graft.sources.IbgeSource.Url()] = f.read()
            self.fetchers[step] = jvm.graft.sources.FixtureFetcher(S.imap(payloads))
        self.expect = {s: medallion.expected(self.inputs, s) for s in ("base", "incr")}
        # the warm-up: the cold full load the cycles rerun unchanged
        self.root, self.step = self.new_root(), "base"
        full = self.pipeline(tr, "setup/a", self.root, "base")
        self.info = {"session_s": session_s, "full_s": full}
        return session_s + full

    def new_root(self):
        self.n += 1
        root = os.path.join(self.run.work, f"medallion{self.n}")
        os.makedirs(root)
        return root

    def pipeline(self, tr, name, root, step, unchanged=False):
        """One `Pipeline.run` over the ANP drop and BCB payloads of `step`,
        timed as span `name` and then checked against the expectation; an
        `unchanged` rerun must also keep the state.json marks. Returns the
        time."""
        jvm, S = self.run.jvm, self.run.S
        anp = os.path.join(root, "anp.csv")
        shutil.copyfile(self.inputs.anp_path(step), anp)
        cfg = jvm.graft.pipeline.RunConfig(CFG_START, CFG_END, anp, "warehouse")
        state = os.path.join(root, "state", "state.json")
        before = _marks(state)
        try:
            with tr.span(name) as s:
                jvm.graft.pipeline.Pipeline.run(S.js, self.fetchers[step], cfg, root,
                                                self.inputs.series_csv, S.some(state), False)
        except Exception as e:  # noqa: BLE001 - a failed run is a failed operation
            self.run.record(False, f"{name}: {str(e)[:200]}")
            return s.dur
        self.files[name.split("/")[0]] = files_since(root, s.start)
        con, summary = self.expect[step]
        errs = medallion.check(con, summary, root)
        if unchanged and _marks(state) != before:
            errs.append(f"unchanged rerun moved state marks {before} -> {_marks(state)}")
        self.run.record(not errs, f"{name}: {errs[:2]}")
        return s.dur

    def traced(self, tr):
        """Phases a and b once more, warm, on a fresh root that the cycles
        then rerun on."""
        self.root, self.step = self.new_root(), "incr"
        return {"a": self.pipeline(tr, "a/pipeline", self.root, "base"),
                "b": self.pipeline(tr, "b/pipeline", self.root, "incr")}

    def cycle(self, tr):
        return {"c": self.pipeline(tr, "c/pipeline", self.root, self.step, unchanged=True)}

    def finish(self, tr):
        """Every cycle was checked already."""

    def replay(self, tracer):
        """`Pipeline.run`'s steps, called one by one on the base inputs under
        spans, into a fresh root; must pass the same output check."""
        jvm, S, inp = self.run.jvm, self.run.S, self.inputs
        js, src, silver = S.js, jvm.graft.sources, jvm.graft.silver.Silver
        pl = jvm.graft.pipeline
        root = self.new_root()
        fetcher = self.fetchers["base"]
        counts = {"fetch_calls": 0}
        with tracer.span("replay") as top:
            frames = []
            for sid, name, *_ in inp.enabled():
                with tracer.span("sources.fetch"):
                    payload = fetcher.fetch(src.BcbSource.url(sid, CFG_START, CFG_END))
                counts["fetch_calls"] += 1
                with tracer.span("sources.build"):
                    bronze = src.BcbSource.fromPayload(js, payload, sid)
                with tracer.span("pipeline.write"):
                    bronze.write().mode("overwrite").parquet(f"{root}/bronze/bcb_sgs_{sid}.parquet")
                with tracer.span("silver.build"):
                    frames.append(silver.toSilverBcb(bronze, name))
            with tracer.span("silver.build"):
                bcb = frames[0]
                for f in frames[1:]:
                    bcb = bcb.unionByName(f)
            with tracer.span("pipeline.swap"):
                pl.Pipeline.swapWrite(js, bcb, f"{root}/silver/bcb_sgs.parquet", S.seq([]))
            bcb_silver = js.read().parquet(f"{root}/silver/bcb_sgs.parquet")
            with tracer.span("sources.fetch"):
                ibge = fetcher.fetch(src.IbgeSource.Url())
            counts["fetch_calls"] += 1
            with tracer.span("sources.build"):
                dim = src.IbgeSource.fromPayload(js, ibge)
            with tracer.span("pipeline.write"):
                dim.write().mode("overwrite").parquet(f"{root}/bronze/ibge_uf_dim.parquet")
            anp_csv = os.path.join(root, "anp.csv")
            shutil.copyfile(inp.anp_path("base"), anp_csv)
            with tracer.span("sources.build"):
                raw = src.CsvDialect.read(js, anp_csv)
            with tracer.span("pipeline.write"):
                raw.write().mode("overwrite").parquet(f"{root}/bronze/anp_raw.parquet")
            with tracer.span("silver.build"):
                anp = silver.enrichUf(silver.toSilverAnp(raw), dim)
            with tracer.span("pipeline.swap"):
                pl.Pipeline.swapWrite(js, anp, f"{root}/silver/anp_prices.parquet", S.seq([]))
            anp_silver = js.read().parquet(f"{root}/silver/anp_prices.parquet")
            with tracer.span("silver.gold_build"):
                gold = silver.buildGold(bcb_silver, anp_silver)
            with tracer.span("pipeline.summary"):
                summary = pl.Summary.build(bcb_silver, anp_silver, "selic_sgs_11")
            with tracer.span("pipeline.commit"):
                wh = f"{root}/warehouse"
                targets = [(dim, f"{root}/silver/dim_uf.parquet", []),
                           (gold.apply("bcb_monthly"), f"{root}/gold/bcb_monthly", ["series_id"]),
                           (gold.apply("anp_monthly"), f"{root}/gold/anp_monthly", ["uf_sigla"]),
                           (bcb_silver, f"{wh}/silver_bcb_sgs", []),
                           (anp_silver, f"{wh}/silver_anp_prices", []),
                           (dim, f"{wh}/dim_uf", []),
                           (gold.apply("bcb_monthly"), f"{wh}/gold_bcb_monthly", []),
                           (gold.apply("anp_monthly"), f"{wh}/gold_anp_monthly", [])]
                for df, path, parts in targets:
                    pl.TierCommit.stageDf(js, df, path, S.seq(parts))
                pl.TierCommit.stageFile(js, bytearray(summary.encode("utf-8")),
                                        f"{root}/gold/summary.md")
                pl.TierCommit.commit(js, root, S.seq([t[1] for t in targets] +
                                                     [f"{root}/gold/summary.md"]))
        con, expect_summary = self.expect["base"]
        errs = medallion.check(con, expect_summary, root)
        self.run.record(not errs, f"replay: {errs[:2]}")
        q = root.replace("'", "''")
        counts["rows_in"] = con.execute(
            f"SELECT (SELECT count(*) FROM read_parquet('{q}/bronze/bcb_sgs_*.parquet/*.parquet')) + "
            f"(SELECT count(*) FROM read_parquet('{q}/bronze/anp_raw.parquet/*.parquet'))").fetchone()[0]
        counts["rows_out"] = con.execute(
            f"SELECT (SELECT count(*) FROM read_parquet('{q}/silver/bcb_sgs.parquet/*.parquet')) + "
            f"(SELECT count(*) FROM read_parquet('{q}/silver/anp_prices.parquet/*.parquet'))").fetchone()[0]
        return top, counts

    def layers(self, tracer, jobs, top, counts):
        spans = tracer.spans
        kinds = {}
        for s in spans:
            if s.parent is top:
                kinds[s.name] = kinds.get(s.name, 0.0) + self_time(s, spans)
        share = lambda k: kinds.get(k, 0.0) / top.dur
        return {"sources.fetch_calls": counts["fetch_calls"],
                "sources.share": share("sources.fetch") + share("sources.build"),
                "silver.share": share("silver.build"),
                "silver.gold_share": share("silver.gold_build"),
                "pipeline.write_share": share("pipeline.write"),
                "pipeline.swap_share": share("pipeline.swap"),
                "pipeline.commit_share": share("pipeline.commit"),
                "pipeline.summary_share": share("pipeline.summary"),
                "silver.rows_in": counts["rows_in"],
                "silver.rows_out": counts["rows_out"]}


# ------------------------------------------------------------------ analytics

class Analytics:
    WARMUP = 2  # a query's CPU time per run still fell 15-25 % from its third run to its fourth

    def __init__(self, run):
        self.run = run

    def setup(self, tr):
        r = self.run
        session_s = r.session(tr)
        self.data, _ = r.generate(tr, lambda d: tables.generate(r.args.seed, d))
        jvm, S = r.jvm, r.S
        reg = jvm.graft.Queries.queries()
        self.fns = {n: reg.apply(n) for n in HEAVY + LIGHT}
        self.probe_fns = dict(S.pairs(jvm.graft.Queries.probeOnly()))
        self.oracle_sql = jvm.graft.Queries.oracleSql()
        self.oracle = tables.Oracle(self.data)
        self.out = os.path.join(r.work, "checked")
        self.rows_out = {}
        order = HEAVY + LIGHT
        r.rng.shuffle(order)
        cold = sum(self.noop(tr, self.fns[n], n, f"setup/{n}") for n in order)
        build = 0.0
        for n in PROBES:  # index builds: the registry query that writes the index
            build += self.checked(tr, reg.apply(n), n, n)
        warm = sum(self.noop(tr, self.probe_fns[n], n + ".probe", f"setup/{n}.probe")
                   for n in PROBES)  # the first probe opens each index
        self.info = {"session_s": session_s, "cold_pass_s": cold,
                     "index_build_s": build, "first_probe_s": warm}
        return session_s + cold + build + warm

    def checked(self, tr, fn, name, oracle_name):
        """Run `fn`, write its output and check it against the DuckDB
        oracle SQL of `oracle_name`; one operation. Returns the time of the
        run and write."""
        r = self.run
        path = os.path.join(self.out, name)
        errs = []
        try:
            with tr.span("check/" + name) as s:
                fn.apply(r.S.js, self.data).coalesce(1).write().mode("overwrite").parquet(path)
        except Exception as e:  # noqa: BLE001 - recorded as a failed check
            errs = [f"{type(e).__name__}: {str(e)[:200]}"]
        if not errs:
            sql = self.oracle_sql.get(oracle_name)
            errs = self.oracle.errors(sql.get(), path) if sql.isDefined() else ["no oracle SQL"]
        if not errs:
            self.rows_out[name] = len(pd.read_parquet(path))
        r.record(not errs, f"{name}: {errs[:1]}")
        return s.dur

    def noop(self, tr, fn, name, span):
        """Run `fn` to the `noop` sink as span `span`; one operation, whose
        output `finish` checks. Returns the time."""
        js = self.run.S.js
        ok = True
        try:
            with tr.span(span) as s:
                with tr.span(span + "/build"):
                    df = fn.apply(js, self.data)
                with tr.span(span + "/exec"):
                    df.write().format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failed query is a failed operation
            ok = False
            self.run.errors.append(f"{name}: {str(e)[:200]}")
        self.run.record(ok, f"{name} failed")
        return s.dur

    def traced(self, tr):
        return {}

    def cycle(self, tr):
        r = self.run
        order = HEAVY + LIGHT
        r.rng.shuffle(order)
        times = {p: 0.0 for p in PHASES}
        self.qtimes = {}
        for n in order:
            p = "a" if n in HEAVY else "b"
            self.qtimes[n] = self.noop(tr, self.fns[n], n, f"{p}/{n}")
            times[p] += self.qtimes[n]
        probes = list(PROBES)
        r.rng.shuffle(probes)
        for n in probes:
            self.qtimes[n] = self.noop(tr, self.probe_fns[n], n + ".probe", f"c/{n}")
            times["c"] += self.qtimes[n]
        return times

    def finish(self, tr):
        """One untimed repeat of every query and probe the cycles ran,
        written and checked against the oracle."""
        for n in HEAVY + LIGHT:
            self.checked(tr, self.fns[n], n, n)
        for n in PROBES:
            self.checked(tr, self.probe_fns[n], n + ".probe", n)

    def layers(self, tracer, jobs, top, counts):
        m = {}
        builds = jobs.of(lambda t: t.endswith("/build"))
        m["tables.build_jobs"] = builds["jobs"]
        probe = jobs.of(lambda t: t.startswith("c/"))
        m["serving.jobs_per_probe"] = probe["jobs"] / len(PROBES)
        m["serving.bytes_read_per_probe"] = probe["bytes_read"] / len(PROBES)
        rows = sum(self.rows_out.get(n + ".probe", 0) for n in PROBES)
        m["serving.rows_read_per_row_out"] = probe["records_read"] / max(1, rows)
        size = files = 0
        tmp = os.path.join(self.run.work, "tmp")
        for d in os.listdir(tmp):
            if d.startswith("graft-") and d.endswith("-index"):
                for root, _, fs in os.walk(os.path.join(tmp, d)):
                    for f in fs:
                        size += os.path.getsize(os.path.join(root, f))
                        files += 1
        m["serving.index_bytes"] = size
        m["serving.index_files"] = files
        m["serving.index_build_share"] = self.info["index_build_s"] / self.run.info["setup_s"]
        total = sum(self.qtimes.values())
        for n in HEAVY:
            m[f"q.{n}.jobs"] = jobs.of(lambda t, n=n: t.startswith(f"a/{n}"))["jobs"]
            m[f"q.{n}.share"] = self.qtimes[n] / total
        fam = {}
        for short, obj in FAMILIES.items():
            names = {x for x, _ in self.run.S.pairs(getattr(self.run.jvm.graft, obj).all())}
            fam[short] = sum(t for q, t in self.qtimes.items() if q in names)
        for short in FAMILIES:
            m[f"family.{short}.share"] = fam[short] / total
        return m


WORKLOADS = {"medallion": Medallion, "analytics": Analytics}
MED_LAYER_KEYS = ["sources.fetch_calls", "sources.share", "silver.share", "silver.gold_share",
                  "pipeline.write_share", "pipeline.swap_share", "pipeline.commit_share",
                  "pipeline.summary_share", "silver.rows_in", "silver.rows_out"]
ANA_LAYER_KEYS = (["tables.build_jobs", "serving.jobs_per_probe", "serving.bytes_read_per_probe",
                   "serving.rows_read_per_row_out", "serving.index_bytes", "serving.index_files",
                   "serving.index_build_share"]
                  + [f"q.{n}.{k}" for n in HEAVY for k in ("jobs", "share")]
                  + [f"family.{f}.share" for f in FAMILIES])
E2E_KEYS = ["setup_s", "cycle_cpu_s", "ok_ratio"]
PHASE_KEYS = ["wall_s", "build_s", "driver_gap_s", "job_busy_s", "jobs", "stages", "tasks",
              "task_cpu_s", "core_util", "shuffle_write_bytes", "spill_bytes",
              "peak_task_mem_mb", "bytes_read", "bytes_written", "files_written"]


def layer_keys():
    return ([f"{p}.{k}" for p in PHASES for k in PHASE_KEYS] + MED_LAYER_KEYS + ANA_LAYER_KEYS
            + ["driver.heap_live_mb", "trace.overhead_ratio"])


def phase_layers(run, wl, tracer, jobs):
    """Per-phase counters of the traced phases, over each phase's op spans."""
    m = {}
    ops = {p: [s for s in tracer.spans if s.parent is None and s.name.startswith(p + "/")]
           for p in PHASES}
    for p in PHASES:
        c = jobs.of(lambda t, p=p: t.startswith(p + "/"))
        wall = sum(s.dur for s in ops[p])
        busy = build = 0.0
        for s in ops[p]:
            mine = jobs.of(lambda t, s=s: t == s.name or t.startswith(s.name + "/"))
            busy += covered(mine["intervals"], s.start, s.end)
            first = mine["first_job"]
            build += (min(first, s.end) - s.start) if first is not None else s.dur
        files = getattr(wl, "files", {}).get(p, 0)  # analytics writes to `noop`
        vals = dict(wall_s=wall, build_s=build, driver_gap_s=wall - busy, job_busy_s=busy,
                    jobs=c["jobs"], stages=c["stages"], tasks=c["tasks"],
                    task_cpu_s=c["task_cpu_s"], core_util=c["task_run_s"] / (run.cores * wall),
                    shuffle_write_bytes=c["shuffle_write_bytes"], spill_bytes=c["spill_bytes"],
                    peak_task_mem_mb=c["peak_task_mem_mb"], bytes_read=c["bytes_read"],
                    bytes_written=c["bytes_written"], files_written=files)
        for k in PHASE_KEYS:
            m[f"{p}.{k}"] = vals[k]
    return m


def load_spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def measure(run, wl, seconds, trace):
    setup_s = wl.setup(Tracer())
    warmup = [sum(wl.cycle(Tracer()).values()) for _ in range(wl.WARMUP)]
    setup_s += sum(warmup)
    run.info.update(wl.info, warmup_cycle_s=warmup, setup_s=setup_s)
    spec = load_spec()
    if not trace:
        tr, cycles, cpu, steal, t_end = Tracer(), [], [], [], time.time() + seconds
        while len(cycles) < MIN_CYCLES or time.time() < t_end:
            c0, s0 = engine.jvm_cpu_s(), steal_s()
            cycles.append(wl.cycle(tr))
            cpu.append(engine.jvm_cpu_s() - c0)
            steal.append(steal_s() - s0)
        wl.finish(tr)
        run.info.update(cycles=len(cycles), phase_samples=cycles, cycle_cpu_s=cpu,
                        cycle_steal_s=steal)
        m = dict(zip(E2E_KEYS, [
            setup_s, statistics.median(cpu),
            (run.attempted - run.failed) / max(1, run.attempted)]))
        units = {x["name"]: x["unit"] for x in spec["end_to_end"]}
        return {k: {"value": v, "unit": units[k]} for k, v in m.items()}
    # the traced run: after the untraced set-up, the phases with spans and
    # the event log attached
    tracer = Tracer(run.spark.sparkContext)
    log = EventLog(run.spark, run.S, os.path.join(run.work, "eventlog"))
    wl.traced(tracer)
    traced = sum(wl.cycle(tracer).values())
    top = counts = None
    if isinstance(wl, Medallion):
        top, counts = wl.replay(tracer)
    events = log.close()
    wl.finish(Tracer())
    jobs = Jobs(events)
    m = phase_layers(run, wl, tracer, jobs)
    # the other workload's layers are not touched: their counters read 0
    m.update({k: 0 for k in MED_LAYER_KEYS + ANA_LAYER_KEYS})
    m.update(wl.layers(tracer, jobs, top, counts))
    m["driver.heap_live_mb"] = heap_live_mb(run.jvm)
    # tracing overhead: the traced cycle against one more, untraced (for
    # analytics the repeat is warmer, so the ratio errs high)
    m["trace.overhead_ratio"] = traced / sum(wl.cycle(Tracer()).values())
    os.makedirs(os.path.join(REPO, ".perfbench"), exist_ok=True)
    dump(os.path.join(REPO, ".perfbench", f"spans-{run.args.workload}-{run.args.seed}.json"),
         tracer.spans, {"metrics": m, "events": len(events)})
    units = {x["name"]: x["unit"] for x in spec["per_layer"]}
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        spec = load_spec()
        engine.ensure_built(REPO)
    except (OSError, subprocess.SubprocessError, ValueError) as e:
        print(f"[perfbench] cannot build the engine: {e}", file=sys.stderr)
        return 2
    work = os.path.join(REPO, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    run.info.update(workload=args.workload, seed=args.seed, nproc=run.cores,
                    source_sha256=engine.source_digest(REPO), git_sha=git_sha(),
                    loadavg_start=loadavg())
    try:
        metrics = measure(run, WORKLOADS[args.workload](run), args.seconds, args.trace)
    finally:
        spark = getattr(run, "spark", None)
        if spark is not None:
            engine.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    run.info.update(loadavg_end=loadavg(), errors=run.errors)
    names = {x["name"] for x in spec["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != names:
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ names)} disagree with BENCHMARK.json")
    print(json.dumps({"provenance": run.info}, default=str))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
