#!/usr/bin/env python3
"""graft benchmark of record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first call builds graft and
the harness (sbt), replicates the sf0.1 fixture into the sf1 corpus,
computes the DuckDB answer digests and warms the artifact stores, all
under `.bench_build/` ($CARGO_TARGET_DIR when set). Every call then runs
one workload in one JVM on `local[nproc]`: set-up rounds, an untimed
answer pass checked against the digests, untimed warm-up passes, and
whole timed passes in an order shuffled by the seed, each query
executing to the `noop` sink. `--trace 1` also
attaches the layer listener to every other pass and reports per-layer
metrics; the spans go to `.bench_build/perfbench/traces/`.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import bench_lib as lib  # noqa: E402

STEAL_BOUND = 0.05      # share of CPU time stolen above which a pass is re-run
RERUN_S = 30            # pass time a run may spend on passes it re-runs
SETUP_ROUNDS = 2
FLOOR_SAMPLES = 15
HEAP = "4g"
RUN_TIMEOUT_S = 170
PREP_TIMEOUT_S = 850
SCALE_FACTOR = 10       # sf1 = sf0.1 replicated 10x (graft.GenScale.replicate)
# graft's sf0.1 test fixture (600k lineitem rows), stored with the benchmark
FIXTURE = os.path.join(HERE, "data", "sf0.1")
MAX_PASSES = 200

ARTIFACTS = ["media", "decoded_features", "ann", "cluster", "pq",
             "windows", "sem", "band", "simhash", "shingles"]

# Each workload times a fixed query mix; see perfbench/README.md for why
# these queries and not the whole family.
WORKLOADS = {
    "olap-sf0.1": {
        "corpus": "sf0.1", "resolve": True, "cold": False, "warm_s": 5,
        "queries": ["h14_promo_effect", "q01_scan_project", "q09_topk", "q13_subquery",
                    "q23_strfuncs", "q47_funnel", "x12_sql_simhash_buckets"]},
    "tpch-sf1": {
        "corpus": "sf1", "resolve": False, "cold": False, "warm_s": 0,
        "queries": ["h06_forecast_revenue", "h14_promo_effect", "h19_discounted_revenue"]},
    "llmprep-cold": {
        "corpus": "sf0.1", "resolve": False, "cold": True, "warm_s": 3,
        "queries": ["d03_dedup_simhash", "d04_dedup_jaccard", "d06_dedup_cluster",
                    "d10_dedup_substring", "d12_semantic_dedup", "m01_multimodal",
                    "p12_bpe_budget", "s04_ann_kmeans", "s09_ann_pq", "t05_pii", "t08_tfidf"]},
}
# Workloads the first call of a checkout prepares for.
PREPARED = ["olap-sf0.1", "tpch-sf1"]

END_TO_END = [("setup_s", "s"), ("throughput_qps", "queries/s"),
              ("latency_p50_ms", "ms"), ("latency_tail_ms", "ms"), ("peak_heap_mb", "MB")]

PER_LAYER = (
    [("engine.session_ms", "ms"), ("engine.register_ms", "ms"), ("engine.stats_ms", "ms"),
     ("sources.resolve_ms", "ms")]
    + [(f"sources.build_ms.{a}", "ms") for a in ARTIFACTS]
    + [("sources.build_jobs", "count"), ("sources.bytes_written_mb", "MB"),
       ("sources.index_build_s", "s"),
       ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
       ("plans.plan_ms", "ms"), ("plans.plan_share", "ratio"), ("plans.exchanges", "count"),
       ("plans.reused_exchanges", "count"), ("plans.scans", "count"),
       ("exec.exec_ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
       ("exec.tasks", "count"), ("exec.ms_per_job", "ms"), ("exec.job_floor_ms", "ms"),
       ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"), ("exec.sched_delay_ms", "ms"),
       ("exec.core_util", "ratio"), ("exec.input_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
       ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"),
       ("exec.peak_exec_mem_mb", "MB"), ("exec.gc_ms", "ms"), ("exec.failed_tasks", "count"),
       ("query.unattributed_ms", "ms"),
       ("trace.overhead_p50_ms", "ms"), ("trace.overhead_qps", "queries/s")])

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

MB = 1024.0 * 1024.0


def min_passes(queries):
    """Whole passes enough for the tail rule to reach at least p75."""
    return math.ceil(lib.MIN_TAIL_SAMPLES / len(queries))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Fail(Exception):
    pass


def run_proc(cmd, timeout, cwd, env=None, capture=False):
    """Run `cmd` in its own process group and wait for it; the whole group
    is killed on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise Fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    if proc.returncode != 0:
        raise Fail(f"exit {proc.returncode}: {' '.join(cmd[:3])} ...")
    return out


def tree_hash(paths, root):
    h = hashlib.sha256()
    for base in paths:
        full = os.path.join(root, base)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


class Bench:
    def __init__(self, root):
        self.root = root
        build_root = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
        self.work = os.path.join(root, build_root, "perfbench")
        self.cpus = os.cpu_count() or 1
        self.tmp = os.path.join(self.work, "tmp")
        # children and in-process DuckDB keep their scratch files here
        os.environ.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in os.environ and os.path.exists(repos):
            os.environ["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                                      f"-Dsbt.repository.config={repos}")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = self.tmp
        self.env = dict(os.environ)

    # ---- build -----------------------------------------------------------
    def build(self):
        for need in ("build.sbt", "src/main/scala"):
            if not os.path.exists(os.path.join(self.root, need)):
                raise Fail(f"not a graft checkout: {need} missing under {self.root}")
        # corpora and stores depend on graft only; the classpath on both builds
        self.build_fp = tree_hash(["build.sbt", "project/build.properties", "src/main"],
                                  self.root)
        self.fixture_fp = tree_hash([os.path.relpath(FIXTURE, self.root)], self.root)
        fp = self.build_fp + tree_hash(["perfbench/harness/build.sbt",
                                        "perfbench/harness/project/build.properties",
                                        "perfbench/harness/src"], self.root)
        os.makedirs(self.tmp, exist_ok=True)
        cp_file = os.path.join(self.work, "build", f"classpath-{fp}.txt")
        if not (os.path.exists(cp_file) and all(
                os.path.exists(p) for p in open(cp_file).read().strip().split(":"))):
            log("building graft and the harness (sbt)")
            out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export harness/Runtime/fullClasspath"], PREP_TIMEOUT_S,
                           cwd=os.path.join(HERE, "harness"), env=self.env, capture=True)
            cp = out.strip().splitlines()[-1].strip()
            if ":" not in cp:
                raise Fail("could not read the harness classpath from sbt")
            os.makedirs(os.path.dirname(cp_file), exist_ok=True)
            with open(cp_file, "w") as f:
                f.write(cp)
        with open(cp_file) as f:
            self.classpath = f.read().strip()

    def java(self, args, timeout, store=None):
        cmd = ["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
               f"-Djava.io.tmpdir={self.tmp}", "-Dspark.ui.enabled=false",
               "-Dlog4j2.configurationFile=" + os.path.join(HERE, "harness", "log4j2.properties"),
               "-Dspark.sql.session.timeZone=UTC"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-cp", self.classpath, "perfbench.Harness"] + args
        env = dict(self.env)
        if store:
            env["GRAFT_STORE_ROOT"] = store
        jvm_cwd = os.path.join(self.work, "jvm")
        for d in (jvm_cwd, self.tmp):
            os.makedirs(d, exist_ok=True)
        run_proc(cmd, timeout, cwd=jvm_cwd, env=env)

    # ---- inputs ----------------------------------------------------------
    def corpus(self, name):
        """The fixture itself for sf0.1; for sf1 the fixture replicated
        under the benchmark's own session, once per (fixture, graft)."""
        if name == "sf0.1":
            return FIXTURE
        big = os.path.join(self.work, "data", f"sf1-{self.fixture_fp}-{self.build_fp}")
        if not os.path.exists(os.path.join(big, "_READY")):
            log(f"replicating sf0.1 {SCALE_FACTOR}x into the sf1 corpus")
            shutil.rmtree(big, ignore_errors=True)
            self.java(["scale", FIXTURE, big, str(SCALE_FACTOR), str(self.cpus)],
                      PREP_TIMEOUT_S)
            with open(os.path.join(big, "_READY"), "w") as f:
                f.write(tree_hash([os.path.relpath(big, self.root)], self.root))
        return big

    def data_fp(self, data_dir):
        """Content fingerprint of a corpus."""
        if data_dir == FIXTURE:
            return self.fixture_fp
        with open(os.path.join(data_dir, "_READY")) as f:
            return f.read().strip()

    def inventory(self):
        path = os.path.join(self.work, "build", f"oracles-{self.build_fp}.json")
        if not os.path.exists(path):
            self.java(["oracles", path + ".tmp"], PREP_TIMEOUT_S)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            return json.load(f)

    def digests(self, data_dir, queries):
        """Oracle digests, computed once per (data, oracle SQL, canonical
        form) fingerprint."""
        import oracle
        inv = self.inventory()
        canon_fp = tree_hash(["scripts/selfcheck.py", "perfbench/oracle.py"], self.root)
        path = os.path.join(self.work, "digests", f"{self.data_fp(data_dir)}-{canon_fp}.json")
        known = json.load(open(path)) if os.path.exists(path) else {}
        missing = set(q for q in queries if q not in inv["oracles"])
        if missing:
            raise Fail(f"no oracle SQL for {sorted(missing)}")
        keys = {q: f"{q}:{hashlib.sha256(inv['oracles'][q].encode()).hexdigest()[:16]}"
                for q in queries}
        missing = {keys[q]: inv["oracles"][q] for q in queries if keys[q] not in known}
        if missing:
            log(f"computing {len(missing)} oracle digests with DuckDB")
            got = oracle.oracle_digests(data_dir, missing)
            known.update(got)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "w") as f:
                json.dump(known, f, indent=1, sort_keys=True)
            os.replace(path + ".tmp", path)
        return {q: known[keys[q]] for q in queries}

    def warm_store(self, corpus, data_dir, resolve):
        """Artifact store with the table stats fed and, when the workload
        resolves artifacts, all ten artifacts built."""
        store = os.path.join(self.work, "store",
                             f"{corpus}-{self.data_fp(data_dir)}-{self.build_fp}")
        if not os.path.exists(os.path.join(store, "_READY")):
            log(f"warming the {corpus} artifact store")
            self.harness_run({"data_dir": data_dir, "setup_rounds": 1,
                              "resolve": str(resolve).lower(),
                              "cold_build": "false", "queries": "", "seconds": 0, "trace": 0,
                              "min_passes": 0, "warm_s": 0},
                             store, [], PREP_TIMEOUT_S)
            open(os.path.join(store, "_READY"), "w").close()
        return store

    def prepare(self, workload):
        spec = WORKLOADS[workload]
        data_dir = self.corpus(spec["corpus"])
        digests = self.digests(data_dir, spec["queries"])
        store = self.warm_store(spec["corpus"], data_dir, spec["resolve"] or spec["cold"])
        return data_dir, digests, store

    # ---- one run ---------------------------------------------------------
    def harness_run(self, cfg, store, orders, timeout):
        run_dir = os.path.join(self.work, "run")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        props = {"cpus": self.cpus, "check_dir": os.path.join(run_dir, "answers"),
                 "steal_bound": STEAL_BOUND, "rerun_s": RERUN_S,
                 "floor_samples": FLOOR_SAMPLES}
        props.update(cfg)
        lines = [f"{k}={v}" for k, v in props.items()]
        lines += [f"pass.{i}={','.join(o)}" for i, o in enumerate(orders)]
        cfg_path = os.path.join(run_dir, "config.properties")
        with open(cfg_path, "w") as f:
            f.write("\n".join(lines) + "\n")
        out = os.path.join(run_dir, "observed.json")
        self.java(["run", cfg_path, out], timeout, store=store)
        with open(out) as f:
            return json.load(f), run_dir

    def cold_store(self, warm):
        """A store holding only the warm store's table stats."""
        store = os.path.join(self.work, "cold-store")
        shutil.rmtree(store, ignore_errors=True)
        shutil.copytree(os.path.join(warm, "table_stats"), os.path.join(store, "table_stats"))
        return store


def check_answers(observed, run_dir, digests):
    import oracle
    failures = []
    for c in observed["checks"]:
        q = c["query"]
        if c["error"] is not None:
            failures.append((q, c["error"]))
            continue
        got = oracle.answer_digest(os.path.join(run_dir, "answers", q))
        want = digests[q]
        if got != want:
            failures.append((q, f"answer differs from the oracle: got {got}, want {want}"))
    return failures


def too_noisy(observed):
    """Why the run is void, or None: every untraced timed pass was over
    the steal bound."""
    timed = [p for p in observed["passes"] if not p["warm"] and not p["traced"]]
    if timed and all(p["flagged"] for p in timed):
        return (f"all {len(timed)} timed passes over the {STEAL_BOUND:.0%} CPU steal "
                "bound: the host is too noisy to measure")
    return None


def spans_of(e):
    """Per-execution spans (name, start_us, end_us): the query and its
    build, plan and exec children."""
    start, built, end = e["start_us"], e["built_us"], e["end_us"]
    spans = [("query", start, end), ("queries.build", start, built)]
    x = e.get("exec")
    plan_end = built
    if x and x["plan_end_ms"] > 0:
        ps = min(max(built, x["plan_start_ms"] * 1000), end)
        plan_end = min(max(ps, x["plan_end_ms"] * 1000), end)
        spans.append(("plans.plan", ps, plan_end))
    spans.append(("exec.run", plan_end, end))
    return spans


def summarize(observed, trace):
    cpus = observed["cpus"]
    passes = {p["pass"]: p for p in observed["passes"]}
    usable = {k for k, p in passes.items() if not p["flagged"] and not p["warm"]}
    ok = [x for x in observed["executions"]
          if x["pass"] in usable and x["record"]["error"] is None]

    def latency_ms(x):
        return (x["record"]["end_us"] - x["record"]["start_us"]) / 1000.0

    def e2e(traced):
        sel = [x for x in ok if x["traced"] == traced]
        wall_us = sum(passes[k]["end_us"] - passes[k]["start_us"]
                      for k in usable if passes[k]["traced"] == traced)
        lat = [latency_ms(x) for x in sel]
        return sel, lat, (len(sel) / (wall_us / 1e6) if wall_us else 0.0)

    untraced, lat, qps = e2e(False)
    m = {}
    jvm_start_us = observed["jvm_start_ms"] * 1000
    rounds = []
    for i, s in enumerate(observed["setups"]):
        start = jvm_start_us if i == 0 else s["setup"]["start_us"]
        rounds.append((s["setup"]["end_us"] - start) / 1e6)
    m["setup_s"] = lib.median(rounds)
    m["throughput_qps"] = qps
    m["latency_p50_ms"] = lib.median(lat)
    # A run falls short of the rule's 40 samples only when executions
    # failed or stolen passes used up the re-run budget; p75 then stands
    # in with fewer than 10 samples beyond it, and the printout says so.
    tail = lib.tail_percentile(lat)
    rule_met = tail is not None
    if not rule_met:
        pct = lib.TAIL_CANDIDATES[-1]
        tail = (pct,) + (lib.nearest_rank(lat, pct) if lat else (0.0, 0))
    pct, m["latency_tail_ms"], beyond = tail
    # per pass, the most heap in use right after a GC; passes without a GC
    # have nothing to say
    heap = [passes[k]["heap_peak"] for k in usable
            if not passes[k]["traced"] and passes[k]["heap_peak"] > 0]
    m["peak_heap_mb"] = lib.median(heap) / MB
    builds = observed["builds"]
    index_build_s = sum(b["end_us"] - b["start_us"] for b in builds) / 1e6
    per_query = {}
    for x in untraced:
        per_query.setdefault(x["record"]["query"], []).append(latency_ms(x))
    ps = list(passes.values())
    host = {"steal_pct": 100.0 * lib.median([p["steal"] for p in ps]),
            "iowait_pct": 100.0 * lib.median([p["iowait"] for p in ps]),
            "load1m": lib.median([p["load1m"] for p in ps]),
            "flagged_passes": sum(1 for p in ps if p["flagged"])}
    info = {"tail_pct": pct, "tail_beyond": beyond, "tail_rule_met": rule_met,
            "executions": len(lat),
            "query_p50_ms": {q: lib.median(v) for q, v in sorted(per_query.items())},
            "index_build_s": index_build_s, "setup_rounds_s": rounds, "host": host,
            "peak_rss_mb": observed["vm_hwm_kb"] / 1024.0, "passes_with_gc": len(heap)}
    if not trace:
        return m, info, None

    layer = {}

    def child_ms(name):
        vals = [(c["end_us"] - c["start_us"]) / 1000.0
                for s in observed["setups"] for c in s["children"] if c["name"] == name]
        return lib.median(vals)
    layer["engine.session_ms"] = child_ms("engine.session")
    layer["engine.register_ms"] = child_ms("engine.register")
    layer["engine.stats_ms"] = child_ms("engine.stats")
    layer["sources.resolve_ms"] = child_ms("sources.resolve")
    by_name = {b["name"]: b for b in builds}
    for a in ARTIFACTS:
        b = by_name.get(f"sources.build.{a}")
        layer[f"sources.build_ms.{a}"] = (b["end_us"] - b["start_us"]) / 1000.0 if b else 0.0
    layer["sources.build_jobs"] = sum(b["counters"]["jobs"] for b in builds)
    layer["sources.bytes_written_mb"] = sum(b["counters"]["output_bytes"] for b in builds) / MB
    layer["sources.index_build_s"] = index_build_s

    traced_ok, traced_lat, traced_qps = e2e(True)
    n = max(1, len(traced_ok))
    recs = [x["record"] for x in traced_ok]
    spans = []
    self_ms = {"queries.build": 0.0, "plans.plan": 0.0, "exec.run": 0.0, "query": 0.0}
    for r in recs:
        sp = spans_of(r)
        spans.append({"query": r["query"], "spans": sp})
        children = [(s, e) for name, s, e in sp if name != "query"]
        _, qs, qe = sp[0]
        self_ms["query"] += lib.self_time((qs, qe), children) / 1000.0
        for name, s, e in sp[1:]:
            self_ms[name] += (e - s) / 1000.0

    def total(side, key):
        return sum(r[side][key] for r in recs)
    exec_ms = self_ms["exec.run"]
    jobs = total("exec", "jobs")
    layer["queries.build_ms"] = self_ms["queries.build"] / n
    layer["queries.build_jobs"] = total("build", "jobs") / n
    layer["plans.plan_ms"] = total("exec", "plan_ms") / n
    layer["plans.plan_share"] = total("exec", "plan_ms") / max(1e-9, sum(traced_lat))
    for k in ("exchanges", "reused_exchanges", "scans"):
        layer[f"plans.{k}"] = total("exec", k) / n
    layer["exec.exec_ms"] = exec_ms / n
    for k in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "sched_delay_ms",
              "gc_ms", "failed_tasks"):
        layer[f"exec.{k}"] = total("exec", k) / n
    layer["exec.ms_per_job"] = lib.ms_per_job(exec_ms, jobs)
    layer["exec.job_floor_ms"] = lib.median(observed["job_floor_us"]) / 1000.0
    layer["exec.core_util"] = lib.core_util(total("exec", "task_run_ms"), exec_ms, cpus)
    for k, name in (("input_bytes", "input_mb"), ("shuffle_read_bytes", "shuffle_read_mb"),
                    ("shuffle_write_bytes", "shuffle_write_mb"), ("spill_bytes", "spill_mb")):
        layer[f"exec.{name}"] = total("exec", k) / n / MB
    layer["exec.peak_exec_mem_mb"] = max([r["exec"]["peak_exec_mem"] for r in recs] or [0]) / MB
    layer["query.unattributed_ms"] = self_ms["query"] / n
    layer["trace.overhead_p50_ms"] = lib.median(traced_lat) - lib.median(lat)
    layer["trace.overhead_qps"] = qps - traced_qps
    return m, info, (layer, spans)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t0 = time.time()
    bench = Bench(os.getcwd())
    try:
        bench.build()
        for w in PREPARED:
            bench.prepare(w)
        data_dir, digests, store = bench.prepare(args.workload)
        spec = WORKLOADS[args.workload]
        if spec["cold"]:
            store = bench.cold_store(store)
        orders = lib.pass_orders(spec["queries"], args.seed, MAX_PASSES)
        log(f"{args.workload}: prepared in {time.time() - t0:.1f}s; running")
        observed, run_dir = bench.harness_run(
            {"data_dir": data_dir, "seconds": args.seconds, "trace": args.trace,
             "setup_rounds": SETUP_ROUNDS, "resolve": str(spec["resolve"]).lower(),
             # traced runs alternate traced and untraced passes
             "min_passes": min_passes(spec["queries"]) * (1 + args.trace),
             "warm_s": spec["warm_s"],
             "cold_build": str(spec["cold"]).lower(), "queries": ",".join(spec["queries"])},
            store, orders, RUN_TIMEOUT_S)
        failures = check_answers(observed, run_dir, digests)
        noisy = too_noisy(observed)
        if noisy:
            raise Fail(noisy)
    except Fail as e:
        log(f"FAILED: {e}")
        return 1
    finally:
        shutil.rmtree(os.path.join(bench.work, "cold-store"), ignore_errors=True)

    execs = observed["executions"]
    exec_failed = [x for x in execs if x["record"]["error"] is not None]
    for x in exec_failed:
        failures.append((x["record"]["query"], x["record"]["error"]))
    attempted = len(execs) + len(observed["checks"])
    failed = len(failures)
    for q, why in failures:
        log(f"FAILED {q}: {why}")

    m, info, traced = summarize(observed, args.trace == 1)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "master": observed["master"], "passes": observed["passes"], "info": info,
              "metrics": m, "failures": failures}
    print(f"workload {args.workload}  seed {args.seed}  master {observed['master']}  "
          f"executions {info['executions']}")
    for name, unit in END_TO_END:
        extra = ""
        if name == "latency_tail_ms":
            extra = f"  (p{info['tail_pct']:g}, {info['tail_beyond']} samples beyond"
            extra += ")" if info["tail_rule_met"] else "; rule of 10 not met)"
        print(f"  {name:<16} {m[name]:12.4f} {unit}{extra}")
    # printed, not gated: G1's heap sizing, not graft, sets most of it
    print(f"  {'peak_rss_mb':<16} {info['peak_rss_mb']:12.4f} MB")
    print(f"  {'index_build_s':<16} {info['index_build_s']:12.4f} s"
          f"{'' if WORKLOADS[args.workload]['cold'] else '  (warm store: no build)'}")
    print(f"  {'failed_ratio':<16} {failed / attempted:12.4f} ratio  ({failed} of {attempted})")
    host = info["host"]
    print(f"  host: steal {host['steal_pct']:.2f}%  iowait {host['iowait_pct']:.2f}%  "
          f"load1m {host['load1m']:.2f}  flagged passes {host['flagged_passes']}")

    if traced:
        layer, spans = traced
        record["per_layer"] = layer
        trace_dir = os.path.join(bench.work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"setups": observed["setups"], "builds": observed["builds"],
                       "executions": spans}, f)
        for name, unit in PER_LAYER:
            print(f"  {name:<30} {layer[name]:14.4f} {unit}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END}
    runs_dir = os.path.join(bench.work, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
