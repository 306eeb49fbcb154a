#!/usr/bin/env python3
"""The repository's benchmark: two seeded workloads on the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
driver from source (sbt, offline) into perfbench/target, with sbt's own
state under .bench_build/; later runs reuse the build while the sources
are unchanged. Each run generates its inputs from the seed into a fresh
directory under .bench_work/, points the program (and its artifact
store) there, and deletes it at the end.

Workloads (see README.md in this directory):
  medallion      Full-Refresh load, then an incremental tick of Pipeline.run
  corpus_ingest  curation, dedup, IVF-PQ append/remove and serve

Each run measures a fixed number of ops: one op outlasts --seconds on
a 4-core machine, so a time-bounded loop would measure a different set
of ops whenever a change crosses that line.

With --trace 0 the last line of stdout is a JSON object holding the
end-to-end metrics; with --trace 1 it holds the per-layer metrics of a
traced run. The lines before it name every metric with its unit.
"""

import argparse
import dataclasses
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("medallion", "corpus_ingest")
JVM_TIMEOUT_S = 170
JVM_HEAP = "3g"
BUILD_TIMEOUT_S = 850

# ---- sizes. Spark's fixed cost per job dominates at these scales; see
# README.md ("Sizing") for why they are small.
STAR_SF = 0.002            # 12k lineitem rows in the full source
MEDALLION_TICKS = 1        # growth batches of the fact tables, one a tick
STAR_GROWTH = 0.05         # share of fact rows that arrive in the batches
GEN_REPS = 5               # input generation repeats (setup_s median)
SESSION_REPS = 5           # engine session starts (setup_s median)
CORPUS_BASE = 5000         # documents/vectors in the base corpus
CORPUS_BATCHES = 3         # ingest batches of a plain run: warm-up + 2
CORPUS_TRACED_BATCHES = 5  # of a traced run: warm-up, traced x2, plain x2
CORPUS_BATCH_DOCS = 300
CORPUS_QUERIES = 32
CORPUS_TAKEDOWN = 40       # base ids each batch takes down
CORPUS_SETUP_REPS = 1      # index trainings in set-up (a warm-up op follows)

MEDALLION_AGGS = {
    "orders_lineitem_merged": {
        "groupby": ["o_orderstatus_orders"], "aggcols": ["l_quantity_lineitem"],
        "funcs": ["sum", "mean", "min", "max", "count"]},
    "customer_orders_merged": {
        "groupby": ["c_mktsegment_customer"],
        "aggcols": ["o_totalprice_orders"], "funcs": ["min", "max", "count"]},
    "part_lineitem_merged": {
        "groupby": ["p_brand_part"], "aggcols": ["l_quantity_lineitem"],
        "funcs": ["sum", "count"]},
    "events": {"groupby": ["event_type"], "aggcols": ["value"],
               "funcs": ["count", "min", "max"]},
}
# the front-end's saved queries, refreshed into gold after every pipeline
# run of the medallion workload
GOLD_VIEWS = ["transformed_orders_lineitem_merged",
              "transformed_customer_orders_merged"]
GOLD_QUERIES = {
    "golden_revenue_by_status_year":
        "SELECT o_orderstatus_orders AS status, "
        "substr(o_orderdate_orders, 1, 4) AS year, COUNT(*) AS lines, "
        "CAST(SUM(CAST(l_extendedprice_lineitem AS DECIMAL(18,2))) "
        "AS DECIMAL(38,2)) AS revenue "
        "FROM transformed_orders_lineitem_merged "
        "GROUP BY o_orderstatus_orders, substr(o_orderdate_orders, 1, 4)",
    "golden_orders_by_segment":
        "SELECT c_mktsegment_customer AS segment, COUNT(*) AS orders, "
        "CAST(SUM(CAST(o_totalprice_orders AS DECIMAL(18,2))) "
        "AS DECIMAL(38,2)) AS total "
        "FROM transformed_customer_orders_merged "
        "GROUP BY c_mktsegment_customer",
}
# the gates of the repository's `ns_curation_config` query (its temperature
# and per-language token budget are whole-corpus mixing stages, not
# per-batch gates, and are left out)
CURATION = {"min_quality": 0.5, "langs": ["de", "en", "es", "fr"],
            "length_floor": "1/10"}

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

E2E_UNITS = {"setup_s": "s", "full_load_s": "s", "op_p50_s": "s",
             "op_tail_s": "s", "ops_per_s": "1/s", "rows_per_s": "rows/s",
             "serve_p50_ms": "ms", "serve_tail_ms": "ms",
             "recall_at_10": "ratio", "bytes_per_input_byte": "ratio",
             "fail_ratio": "ratio"}


class Refused(Exception):
    """The benchmark cannot run here; exit non-zero without a result."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, cwd, timeout, out, env=None):
    """Run `cmd` in its own process group writing to `out`; the whole
    group is killed when it outlives `timeout`. Returns the exit code."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=out, env=env,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        return "timeout"


# ------------------------------------------------------------------ build

def _stamp(paths):
    md = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(r, f) for r, _, fs in os.walk(base)
                           for f in fs if f.endswith(".scala"))
        for f in files:
            md.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                md.update(hashlib.sha256(fh.read()).digest())
    return md.hexdigest()


def find_spark_home():
    """$SPARK_HOME, else the installation of the first spark-submit on
    PATH that sits next to a jars/ directory (a pip-installed launcher
    does not)."""
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in candidates:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise Refused("no Spark installation found: set SPARK_HOME")


def build():
    """Compile the engine and the driver unless an up-to-date build
    exists; returns the runtime classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise Refused("engine sources src/main/scala not found: run from "
                      "the root of a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise Refused("sbt and java are needed to build the benchmark")
    spark_home = find_spark_home()
    stamp = _stamp([engine, os.path.join(HERE, "src"),
                    os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    state_dir = os.path.join(ROOT, ".bench_build")
    state = os.path.join(state_dir, "perfbench-build.json")
    if os.path.exists(state):
        with open(state) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp and all(
                os.path.exists(p) for p in saved["classpath"].split(":")[:1]):
            return saved["classpath"]
    log("building engine and driver (sbt, offline)")
    sbt_home = os.path.join(state_dir, "sbt")
    # every path sbt would write outside the checkout points into it
    tmp = os.path.join(sbt_home, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={sbt_home}/global",
           f"-Dsbt.boot.directory={sbt_home}/boot",
           f"-Dsbt.ivy.home={sbt_home}/ivy",
           f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    os.makedirs(state_dir, exist_ok=True)
    build_log = os.path.join(state_dir, "build.log")
    with open(build_log, "w") as out:
        # no hsperfdata files in /tmp from any JVM the sbt script starts
        env = dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
                   TMPDIR=tmp, SPARK_HOME=spark_home)
        code = run_group(cmd, HERE, BUILD_TIMEOUT_S, out, env)
    with open(build_log) as f:
        text = f.read()
    lines = text.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if code != 0 or "perfbench" not in cp.split(":")[0]:
        sys.stderr.write(text[-6000:])
        raise RuntimeError(f"build failed ({code})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(state, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


# ------------------------------------------------------------------ JVM

def run_jvm(classpath, work, plan):
    plan = dict(plan, session_reps=SESSION_REPS, cores=os.cpu_count())
    plan_path = os.path.join(work, "plan.json")
    record_path = os.path.join(work, "record.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *ADD_OPENS, f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dgraft.artifacts.root={os.path.join(work, 'artifacts')}",
           f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main", plan_path, record_path]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as out:
        code = run_group(cmd, work, JVM_TIMEOUT_S, out,
                         dict(os.environ, TMPDIR=tmp))
    if code != 0:
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"workload JVM exited with {code}")
    with open(record_path) as f:
        return json.load(f)


# ------------------------------------------------------------ workloads

def timed_reps(reps, fn):
    """Run fn(r) `reps` times; (seconds of each, value of the last)."""
    times, value = [], None
    for r in range(reps):
        t0 = time.perf_counter()
        value = fn(r)
        times.append(time.perf_counter() - t0)
    return times, value


def generate_star(work, seed):
    import gen

    def once(r):
        d = os.path.join(work, f"gen{r}")
        gen.write_star(seed, STAR_SF, d, MEDALLION_TICKS, STAR_GROWTH)
        return d
    times, d = timed_reps(GEN_REPS, once)
    for r in range(GEN_REPS - 1):
        shutil.rmtree(os.path.join(work, f"gen{r}"))
    return times, d


def parquet_rows(path):
    """Rows of a parquet table directory, from its metadata."""
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet").count_rows()


def medallion(args, work, classpath):
    import checks
    import gen
    gen_times, d = generate_star(work, args.seed)
    source = os.path.join(d, "source")
    base_rows = sum(parquet_rows(os.path.join(source, f"{t}.parquet"))
                    for t in gen.STAR_TABLES)
    batch_rows = [sum(parquet_rows(os.path.join(d, "batches", str(i),
                                                f"{t}.parquet"))
                      for t in gen.FACT_TABLES)
                  for i in range(MEDALLION_TICKS)]
    plan = {"workload": "medallion", "seed": args.seed, "trace": args.trace,
            "source": source,
            "batches": [os.path.join(d, "batches", str(i))
                        for i in range(MEDALLION_TICKS)],
            "tables": gen.STAR_TABLES, "facts": gen.FACT_TABLES,
            "aggregations": MEDALLION_AGGS,
            "gold_views": GOLD_VIEWS, "gold_queries": GOLD_QUERIES,
            "plain_root": os.path.join(work, "layers"),
            "traced_root": os.path.join(work, "layers_traced")}
    rec = run_jvm(classpath, work, plan)
    ops = rec["ops"]
    problems = [f"op {o['i']}: {o.get('error')}" for o in ops if not o["ok"]]
    expected = checks.replay_medallion(source, gen.STAR_TABLES, MEDALLION_AGGS)
    actual = checks.layer_digests(plan["plain_root"])
    expected["gold"] = checks.query_digests(
        os.path.join(plan["plain_root"], "silver"), GOLD_VIEWS, GOLD_QUERIES)
    found = checks.compare_layers(expected, actual)
    if args.trace:
        traced = checks.layer_digests(plan["traced_root"])
        found += [f"traced run differs: {p}"
                  for p in checks.compare_layers(actual, traced)]
    problems += found
    # the layers are the run's final state: a mismatch fails the last op
    failed = failed_ops(ops, [ops[-1]["i"]] if found else [])
    plain = [o for o in ops if not o["traced"]]
    ticks = [o for o in plain if o["kind"] == "tick" and o["ok"]]
    full = [o for o in plain if o["kind"] == "full_load"][0]
    tick_s = [secs(o) for o in ticks]
    carried = [base_rows + sum(batch_rows[:o["batch"] + 1]) for o in ticks]
    source_bytes = gen.dir_bytes(source)
    out_bytes = sum(gen.dir_bytes(os.path.join(plan["plain_root"], l))
                    for l in ("raw", "silver_mapping", "silver", "gold"))
    e2e = {"full_load_s": secs(full),
           "rows_per_s": sum(carried) / sum(tick_s) if tick_s else 0.0,
           "bytes_per_input_byte": out_bytes / source_bytes}
    counts = {}
    if args.trace:
        sm = actual["silver_mapping"]
        merged = [t for t in sm if t.endswith("_merged")]
        counts = {"mapping_outputs": len(merged),
                  "mapping_nonempty": sum(1 for t in merged
                                          if sm[t] and sm[t][1] > 0),
                  "queries": len(GOLD_QUERIES) * sum(
                      1 for o in ops if o["traced"] and o["ok"]
                      and o["kind"] == "tick")}
    return Result(rec, gen_times, ticks, len(ops), failed, problems,
                  e2e, counts, op_kind="tick")


def corpus_ingest(args, work, classpath):
    import pyarrow.dataset as ds

    import checks
    import gen
    corpus = os.path.join(work, "corpus")
    n_batches = CORPUS_TRACED_BATCHES if args.trace else CORPUS_BATCHES

    def once(r):
        d = os.path.join(work, f"corpus{r}")
        gen.write_corpus(args.seed, CORPUS_BASE, n_batches,
                         CORPUS_BATCH_DOCS, CORPUS_QUERIES, CORPUS_TAKEDOWN, d)
        return d
    gen_times, d = timed_reps(GEN_REPS, once)
    os.rename(d, corpus)
    for r in range(GEN_REPS - 1):
        shutil.rmtree(os.path.join(work, f"corpus{r}"))
    with open(os.path.join(corpus, "takedown.json")) as f:
        takedown = json.load(f)
    live = os.path.join(work, "live")
    plan = {"workload": "corpus_ingest", "seed": args.seed,
            "trace": args.trace, "corpus": corpus, "live": live,
            "batches": [os.path.join(corpus, "batches", str(i))
                        for i in range(n_batches)],
            "queries": os.path.join(corpus, "queries.parquet"),
            "takedown": takedown, "curation": CURATION,
            "n_cells": 16, "pq_m": 8, "pq_ksub": 16, "max_cell": 100000,
            "setup_reps": CORPUS_SETUP_REPS,
            "index_root": os.path.join(work, "index")}
    rec = run_jvm(classpath, work, plan)
    ops = rec["ops"]
    ex = rec["extra"]
    problems = [f"batch {o['i']}: {o.get('error')}" for o in ops if not o["ok"]]

    def read_docs(path):
        return ds.dataset(path, format="parquet").to_table(
            columns=["doc_id", "text", "lang"]).to_pydict()
    found = checks.check_ingest(
        read_docs(os.path.join(corpus, "documents.parquet")),
        [dict(docs=read_docs(os.path.join(plan["batches"][o["batch"]],
                                          "documents.parquet")),
              kept=o["kept"], near_dups=o["near_dups"]) for o in ops],
        takedown, CURATION)
    problems += [msg for _, msg in found]
    q_ids, q_vecs = checks.read_vectors(plan["queries"])
    ids, vecs = checks.read_vectors(os.path.join(live, "embeddings.parquet"),
                                    exclude=ex["removed"])
    truth = checks.brute_force(q_ids, q_vecs, ids, vecs, 10)
    bad = checks.exact_topk_matches(ex["exhaustive_serve"], truth, 10)
    if bad:
        problems.append(f"exhaustive serve differs from brute force on "
                        f"{len(bad)} of {len(truth)} queries")
    # a batch's own check fails its op; the checks over the end state
    # (dedup recall, the exhaustive serve) fail the last op
    refused = [ops[-1 if b is None else b]["i"] for b, _ in found]
    failed = failed_ops(ops, refused + ([ops[-1]["i"]] if bad else []))
    for o in ops:
        o["appended"] = len(set(o["kept"]) - set(o["near_dups"]))
    plain = [o for o in ops if not o["traced"] and o["ok"]
             and o["kind"] == "batch"]
    serve = [ms for o in plain for ms in o["serve_ms"]]
    in_bytes = sum(gen.dir_bytes(os.path.join(corpus, p)) for p in
                   ("embeddings.parquet", "documents.parquet")) + sum(
        gen.dir_bytes(os.path.join(corpus, "batches", str(o["batch"])))
        for o in ops)
    e2e = {"rows_per_s": (sum(o["appended"] for o in plain)
                          / sum(secs(o) for o in plain)) if plain else 0.0,
           "serve_p50_ms": metrics.median(serve),
           "serve_tail_ms": metrics.tail(serve)[0],
           "recall_at_10": checks.recall_at_k(ex["last_serve"], truth, 10),
           "bytes_per_input_byte":
               gen.dir_bytes(ex["index"]) / in_bytes}
    traced = [o for o in ops if o["traced"] and o["ok"]]
    counts = {"appended_vectors": sum(o["appended"] for o in traced),
              "served_rows": sum(o.get("served", 0) for o in traced)}
    return Result(rec, gen_times, plain, len(ops), failed, problems, e2e,
                  counts, op_kind="batch")


# ------------------------------------------------------------ metrics

def secs(op):
    return (op["t1"] - op["t0"]) / 1e3


def failed_ops(ops, check_failed):
    """Ops that raised or whose output a check refused (by op index)."""
    return len({o["i"] for o in ops if not o["ok"]} | set(check_failed))


@dataclasses.dataclass
class Result:
    """What a workload hands to the metric code: the JVM record, the
    generation times, the plain ops measured, the failure count and
    check problems, the workload-specific end-to-end metrics, the bases
    of the per-layer ratios, and the kind of op the loop runs."""
    record: dict
    gen_times: list
    samples: list
    attempted: int
    failed: int
    problems: list
    e2e: dict
    counts: dict
    op_kind: str


def end_to_end(res):
    """All end-to-end metrics of a plain run, by name."""
    jvm_setup = res.record.get("setup_s") or [0.0]
    times = [secs(o) for o in res.samples]
    # a warm-up op is set-up: it runs once, so it adds in whole
    parts = [metrics.median(t) for t in
             (res.gen_times, res.record["session_s"], jvm_setup)] + [
        sum(secs(o) for o in res.record["ops"] if o["kind"] == "warmup")]
    log("set-up: generation {:.3f} s, session {:.3f} s, workload {:.3f} s "
        "(medians), warm-up {:.3f} s".format(*parts))
    out = {"setup_s": sum(parts)}
    q = None
    if times:
        span_s = (res.samples[-1]["t1"] - res.samples[0]["t0"]) / 1e3
        tail, q = metrics.tail(times)
        out.update({"op_p50_s": metrics.median(times), "op_tail_s": tail,
                    "ops_per_s": len(times) / span_s})
    out.update(res.e2e)
    out["fail_ratio"] = metrics.fail_ratio(res.attempted, res.failed)
    return out, q


def per_layer(res):
    rec = res.record
    ops = [o for o in rec["ops"] if o["traced"] and o["ok"]
           and o["kind"] == res.op_kind]
    plain = [o for o in rec["ops"] if not o["traced"] and o["ok"]
             and o["kind"] == res.op_kind]
    if not ops or not plain:
        raise RuntimeError("the traced run completed no traced/plain op pair")
    for j in rec["jobs"]:
        j["t1"] = max(j["t1"], j["t0"])
    out = metrics.layer_metrics(ops, rec["spans"], rec["jobs"],
                                rec["executions"], res.counts)
    traced_p50 = metrics.median([secs(o) for o in ops])
    plain_p50 = metrics.median([secs(o) for o in plain])
    out.update({"trace.op_p50_s": traced_p50,
                "trace.plain_op_p50_s": plain_p50,
                "trace.overhead_s": traced_p50 - plain_p50})
    return out


def load_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        spec = load_benchmark_json()
        classpath = build()
    except Refused as e:
        log(f"cannot run: {e}")
        return 2
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        workload = {"medallion": medallion,
                    "corpus_ingest": corpus_ingest}[args.workload]
        res = workload(args, work, classpath)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for msg in res.problems:
        log(f"CHECK FAILED: {msg}")
    log("op seconds: " + ", ".join(
        f"{o['kind']}{' (traced)' if o['traced'] else ''} {secs(o):.3f}"
        for o in res.record["ops"]))
    e2e, q = end_to_end(res)
    print(f"workload {args.workload} seed {args.seed}: "
          f"{len(res.samples)} {res.op_kind} samples, tail percentile "
          f"{'n/a' if q is None else f'p{q * 100:g}'}, "
          f"{res.attempted} ops attempted, {res.failed} failed")
    for name, value in e2e.items():
        print(f"  {name:<22} {value:14.6f} {E2E_UNITS[name]}")
    if args.trace:
        layer = per_layer(res)
        for name in sorted(layer):
            print(f"  {name:<42} {layer[name]:16.6f}")
        chosen = {m["name"]: (layer.get(m["name"], 0.0), m["unit"])
                  for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: (e2e[m["name"]], m["unit"])
                  for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": not res.problems, "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
