#!/usr/bin/env python3
"""End-to-end benchmark of the graft Spark engine.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run:

1. builds the program and the benchmark client from source (sbt, cached
   by a hash of the sources under e2ebench/.out/build);
2. generates the workload's corpus once (gen_corpus.py, then
   `graft.ScaleGen` for the amplified corpora), checks its row counts, and
   lays its rows out over files in a seed-dependent order;
3. computes the expected result of every query with its DuckDB oracle SQL
   (cached per corpus and oracle SQL text);
4. starts one JVM running the single-threaded closed-loop client
   (client/): warm-up passes until pass time stops falling, the first of
   which writes every query's result for the check, then timed passes for
   --seconds;
5. compares the results with the oracle, and prints one JSON line: the
   end-to-end metrics (--trace 0) or the per-layer metrics of a traced
   window (--trace 1).

Nothing outside the repository checkout is written: builds go to target/
directories, everything else to e2ebench/.out/. The JVM's working
directory is a per-workload directory under .out/work that is emptied
before each run, because the I/O queries and the session's warehouse write
relative to it. Corpus generation and the oracle are outside setup_s.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")

# name -> queries (run in a seed-shuffled order each pass), base corpus
# scale factor and graft.ScaleGen copies (1 = the base corpus as is).
# NOTES.md gives the measurements these were chosen from.
WORKLOADS = {
    "tpch_x10": dict(queries=["q182_min_cost_supplier", "q191_supplier_counts",
                              "q193_big_orders", "q195_waiting_suppliers"],
                     sf=0.005, copies=10),
    "io_write": dict(queries=["q116_bucketed_join", "q80_csv_roundtrip",
                              "q84_partitioned_write", "q82_parquet_roundtrip",
                              "q118_compaction"],
                     sf=0.002, copies=1),
}
# Warm-up ends when a pass is no more than this much faster than the pass
# two before it, or once WARM_MAX_S of passes is spent (NOTES.md: measured
# descent and the time budget).
WARM_TOLERANCE = 0.10
WARM_MAX_S = 36

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CORES = "4"
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "client", "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "client", "build.sbt"),
             os.path.join(HERE, "client", "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles and packages the program and the client; returns the
    runtime classpath (jars, which load faster than class directories)."""
    key = source_hash()
    cp_file = os.path.join(OUT, "build", f"{key}.classpath")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    shutil.rmtree(os.path.dirname(cp_file), ignore_errors=True)
    os.makedirs(os.path.dirname(cp_file))
    log("building program and client (sbt)")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspathAsJars"],
        cwd=os.path.join(HERE, "client"), env=sbt_env(), capture_output=True,
        text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    cp = r.stdout.strip().splitlines()[-1].strip()
    if "e2ebench-client" not in cp:
        fail(f"unexpected classpath line: {cp[:200]}")
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def java_cmd(cp, main, args, heap="3g"):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no hsperfdata file under /tmp: a run writes only inside the checkout
    return (["java", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, main] + [str(a) for a in args])


def run_jvm(cmd, cwd, log_path, timeout):
    """Runs one JVM to completion in `cwd`, with its temporary files and
    Spark's block and shuffle files under `cwd` too; the process is always
    reaped."""
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = cmd[:1] + [f"-Djava.io.tmpdir={tmp}"] + cmd[1:]
    env = dict(os.environ, SPARK_GRAFT_CPUS=CORES, SPARK_LOCAL_DIRS=tmp)
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM timed out after {timeout}s; see {log_path}")


# --------------------------------------------------------------- corpus

def table_path(d, t):
    return os.path.join(d, f"{t}.parquet")


def parquet_glob(d, t):
    p = table_path(d, t)
    return os.path.join(p, "*.parquet") if os.path.isdir(p) else p


def row_counts(d):
    import duckdb
    con = duckdb.connect()
    return {t: con.sql(f"SELECT count(*) FROM read_parquet('{parquet_glob(d, t)}')")
            .fetchone()[0] for t in TABLES}


def corpus_key():
    """Hash of the corpus generators' sources: a corpus built by other
    generator code is another corpus, in another directory."""
    h = hashlib.sha256()
    for f in (os.path.join(HERE, "gen_corpus.py"),
              os.path.join(ROOT, "src", "main", "scala", "graft", "ScaleGen.scala")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def base_corpus(sf):
    d = os.path.join(OUT, "corpus", f"base_sf{sf}_{corpus_key()}")
    if not os.path.exists(os.path.join(d, "_READY")):
        shutil.rmtree(d, ignore_errors=True)
        r = subprocess.run([sys.executable, os.path.join(HERE, "gen_corpus.py"), d,
                            str(sf)], capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr)
            fail("corpus generation failed")
        open(os.path.join(d, "_READY"), "w").close()
    return d


def scaled_corpus(cp, sf, copies):
    """Base corpus amplified `copies`-fold by graft.ScaleGen, row counts
    checked against the base (region and nation stay fixed)."""
    base = base_corpus(sf)
    if copies == 1:
        return base
    d = os.path.join(OUT, "corpus", f"x{copies}_sf{sf}_{corpus_key()}")
    if os.path.exists(os.path.join(d, "_READY")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    work = os.path.join(OUT, "work", "scalegen")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log(f"generating {copies}x corpus with graft.ScaleGen")
    rc = run_jvm(java_cmd(cp, "graft.ScaleGen", [base, d, copies]), work,
                 os.path.join(OUT, "scalegen.log"), 600)
    if rc != 0:
        fail("ScaleGen failed; see .out/scalegen.log")
    want = {t: n * (1 if t in ("region", "nation") else copies)
            for t, n in row_counts(base).items()}
    got = row_counts(d)
    if got != want:
        fail(f"ScaleGen row counts {got} != expected {want}")
    open(os.path.join(d, "_READY"), "w").close()
    return d


def seeded_layout(src, workload, seed):
    """The corpus with its rows dealt over files in a seed-dependent order.
    Same rows and file count per table as `src`; only one seed's copy of a
    workload is kept."""
    import pyarrow.parquet as pq
    import numpy as np
    root = os.path.join(OUT, "corpus", "seeded", workload)
    d = os.path.join(root, f"{os.path.basename(src)}_seed{seed}")
    if os.path.exists(os.path.join(d, "_READY")):
        return d
    shutil.rmtree(root, ignore_errors=True)
    rng = np.random.default_rng(seed % 2**63)  # numpy takes no negative seed
    for t in TABLES:
        p = table_path(src, t)
        files = [f for f in os.listdir(p) if f.endswith(".parquet")] \
            if os.path.isdir(p) else [None]
        tbl = pq.read_table(p)
        tbl = tbl.take(rng.permutation(tbl.num_rows))
        out = table_path(d, t)
        os.makedirs(out)
        bounds = np.linspace(0, tbl.num_rows, len(files) + 1).astype(int)
        for i in range(len(files)):
            pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(out, f"part-{i:05d}.parquet"))
    open(os.path.join(d, "_READY"), "w").close()
    return d


# --------------------------------------------------------------- oracle

def oracle_module():
    """tools/oracle_check.py, imported as is: its canonical row form and
    float tolerance are the repository's result-check rules."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def corpus_views(con, d):
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{parquet_glob(d, t)}')")


def expected_results(cp, queries, corpus):
    """{query: (columns, rows)} from the DuckDB oracle, None for a query
    without oracle SQL. Cached per corpus directory (named by its
    generators' hash) and per query's oracle SQL text, so a changed oracle
    or generator is never checked against an old expectation. The seed
    only moves rows between files, which no oracle result depends on."""
    import duckdb
    import pickle
    # the oracle SQL comes from the program itself (SparkEntry.oracleSql),
    # dumped once per build
    sql_path = os.path.join(OUT, "build", "oracle_sql.json")
    if not os.path.exists(sql_path):
        rc = run_jvm(java_cmd(cp, "org.apache.spark.e2ebench.OracleSql", [sql_path], "1g"),
                     OUT, os.path.join(OUT, "oracle_sql.log"), 120)
        if rc != 0:
            fail("could not dump the oracle SQL")
    oracle_sql = json.load(open(sql_path))
    path = os.path.join(OUT, "expected", f"{os.path.basename(corpus)}.pkl")
    cache = {}  # query -> (oracle SQL, result)
    if os.path.exists(path):
        with open(path, "rb") as f:
            cache = pickle.load(f)
    stale = [q for q in queries
             if q not in cache or cache[q][0] != oracle_sql.get(q)]
    if stale:
        oc = oracle_module()
        con = duckdb.connect()
        corpus_views(con, corpus)
        for q in stale:
            sql = oracle_sql.get(q)
            cache[q] = (sql, oc.canon(con, f"SELECT * FROM ({sql})")
                        if sql is not None else None)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            pickle.dump(cache, f)
    return {q: cache[q][1] for q in queries}


def check_results(verify_dir, expected, errors):
    """Query -> failure reason for every query whose verification result
    threw or differs from the oracle (oracle_check.py's comparison)."""
    import duckdb
    oc = oracle_module()
    con = duckdb.connect()
    bad = {}
    for q, exp in expected.items():
        if errors.get(q):
            bad[q] = f"threw: {errors[q]}"
            continue
        if exp is None:
            continue
        try:
            gcols, grows = oc.canon(con, f"SELECT * FROM read_parquet('{verify_dir}/{q}/*.parquet')")
        except Exception as e:  # unreadable result
            bad[q] = f"cannot read result: {e}"
            continue
        ocols, orows = exp
        if gcols != ocols:
            bad[q] = f"columns {gcols} != {ocols}"
        elif len(grows) != len(orows):
            bad[q] = f"rows {len(grows)} != {len(orows)}"
        else:
            for i, (g, o) in enumerate(zip(grows, orows)):
                if g != o and not all(oc.eq(a, b) for a, b in zip(g, o)):
                    bad[q] = f"row {i}: {g} != {o}"
                    break
    return bad


# ------------------------------------------------------------ box probe

def box_probe(rounds=5):
    """Seconds for a fixed pure-Python integer loop, median of `rounds`.
    Evidence of how fast the box ran; never used to rescale or drop a run."""
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append(time.perf_counter() - t0)
    return stats.median(times)


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1].strip())
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    for f in ("build.sbt", os.path.join("src", "main"), os.path.join("tools", "oracle_check.py")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"{f} not found: run from a full checkout of the repository")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not on PATH")

    wl = WORKLOADS[a.workload]
    os.makedirs(OUT, exist_ok=True)
    cp = build()
    base = scaled_corpus(cp, wl["sf"], wl["copies"])
    expected = expected_results(cp, wl["queries"], base)
    corpus = seeded_layout(base, a.workload, a.seed)

    work = os.path.join(OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)  # files the last run's queries wrote
    os.makedirs(work)
    verify_dir = os.path.join(work, "verify")
    raw_path = os.path.join(work, "client.json")
    probe_before = box_probe()
    t_jvm = time.time()
    rc = run_jvm(java_cmd(cp, "org.apache.spark.e2ebench.Client", [
        ",".join(wl["queries"]), corpus, a.seed, a.seconds, a.trace,
        verify_dir, raw_path, WARM_TOLERANCE, WARM_MAX_S]),
        work, os.path.join(work, "client.log"), JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(raw_path):
        fail(f"client exited with {rc}; see {work}/client.log")
    jvm_s = time.time() - t_jvm
    probe_after = box_probe()
    raw = json.load(open(raw_path))

    bad = check_results(verify_dir, expected, raw["verify_errors"])
    untraced = raw["untraced"]
    e2e = stats.end_to_end(raw["setup_s"], untraced, set(bad))
    window = raw["traced"] if a.trace else untraced
    attempted = len(window["ops"])
    failed = stats.failed_ops(window["ops"], set(bad))
    if a.trace:
        rate = lambda w: len(w["ops"]) / w["wall_s"]
        untraced_rate = (rate(untraced) + rate(raw["untraced_after"])) / 2
        overhead = 1.0 - rate(window) / untraced_rate
        metrics = stats.per_layer(window, raw["cores"], overhead)
    else:
        metrics = e2e

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "corpus": corpus,
        "box_probe_s": {"before": probe_before, "after": probe_after},
        "warmup_pass_s": raw["warmup_pass_s"],
        "warmup_capped": raw["warmup_capped"],
        "timed_pass_s": [p["wall_s"] for p in untraced["passes"]],
        "op_tail": stats.tail_info(untraced, set(bad)),
        "result_check_failures": bad,
        "unchecked_queries": sorted(q for q, e in expected.items() if e is None),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    runs = os.path.join(OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        with open(os.path.join(runs, f"{tag}.spans.json"), "w") as f:
            json.dump({"box_probe_s": record["box_probe_s"], "spans": raw["spans"]}, f)
    log(f"run {time.time() - t_start:.1f}s (jvm {jvm_s:.1f}s), "
        f"box probe {probe_before:.4f}s/{probe_after:.4f}s, "
        f"warm-up passes {[round(x, 2) for x in raw['warmup_pass_s']]}"
        f"{' (capped)' if raw['warmup_capped'] else ''}, "
        f"timed passes {[round(x, 2) for x in record['timed_pass_s']]}, "
        f"tail {record['op_tail']}, result-check failures {sorted(bad)}")
    print(json.dumps(stats.result_line(not bad and failed == 0, attempted, failed, metrics)))


if __name__ == "__main__":
    main()
