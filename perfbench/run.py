#!/usr/bin/env python3
"""Benchmark of the KG build on 4 local cores.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Builds the repository and the benchmark
with sbt when their sources changed since the last build, generates the
workload's inputs from the seed, runs the workload in one JVM, checks its
outputs, and prints one JSON line as the last line of standard output:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics, or
with `--trace 1` the per-layer metrics of BENCHMARK.json).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("kg_build", "link_heavy", "rdfxml_file", "suite")
JVM_HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return b["end_to_end"], b["per_layer"]


# ------------------------------------------------------------------- build

def build_inputs():
    files = [os.path.join(ROOT, "build.sbt")]
    for pattern in ("project/*.properties", "project/*.sbt", "src/main/**/*",
                    "perfbench/build.sbt", "perfbench/project/*.properties", "perfbench/src/main/**/*"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    return sorted(f for f in set(files) if os.path.isfile(f))


BUILD = os.path.join(WORK, "build")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
CLASSES = {os.path.join(HERE, "target", "scala-2.13", "classes"): os.path.join(BUILD, "perfbench.jar"),
           os.path.join(ROOT, "target", "scala-2.13", "classes"): os.path.join(BUILD, "graft.jar")}


def classpath():
    with open(os.path.join(BUILD, "classpath")) as fh:
        return fh.read()


def java_cmd(*args):
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-Xlog:cds=off",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + list(args) + ["-cp", classpath(), "perfbench.Main"]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built():
    """Compile with sbt, package the classes, and dump a class-data-sharing
    archive of the classes a small kg_build run loads. Every benchmark JVM
    starts from that archive, which on a 4-vCPU host halves its session
    start (7.0 s to 3.1 s) and so fits the runs into their time budget.
    Skipped when no build input changed; a failed step fails the build."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return
    log("building the repository and the benchmark with sbt")
    t0 = time.time()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    r = subprocess.run(["sbt", "--batch", "compile", "export Runtime/fullClasspath"], cwd=HERE,
                       env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=700)
    sys.stderr.write(r.stdout)
    if r.returncode != 0:
        raise SystemExit(f"sbt compile failed with code {r.returncode}")
    # The runtime classpath sbt resolved, with each compiled class directory
    # packaged as a jar (class-data sharing archives classes from jars only).
    entries = [line for line in r.stdout.splitlines() if ".jar" in line][-1].split(os.pathsep)
    for classes, jar in CLASSES.items():
        subprocess.run(["jar", "cf", jar, "-C", classes, "."], check=True)
    with open(os.path.join(BUILD, "classpath"), "w") as fh:
        fh.write(os.pathsep.join(CLASSES.get(e, e) for e in entries))
    cds = os.path.join(BUILD, "cds")
    docs = os.path.join(cds, "inputs")
    os.makedirs(os.path.join(cds, "tmp"))
    os.makedirs(docs)
    gen.write_parquet(gen.documents(0, 200), os.path.join(docs, "documents.parquet"))
    dump = java_cmd(f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}", f"-Djava.io.tmpdir={os.path.join(cds, 'tmp')}")
    dump += ["--workload", "kg_build", "--inputs", docs, "--work", cds, "--seconds", "0",
             "--trace", "0", "--out", os.path.join(cds, "result.json")]
    code = subprocess.run(dump, stdout=sys.stderr, stderr=sys.stderr, timeout=300).returncode
    if code != 0 or not os.path.isfile(CDS_ARCHIVE):
        raise SystemExit(f"perfbench: class-data-sharing archive not written (code {code})")
    shutil.rmtree(cds)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"build took {time.time() - t0:.1f} s")


# ------------------------------------------------------------------ checks

def _frame_rows(con, sql):
    df = con.execute(sql).fetchdf()
    cols = sorted(df.columns)
    return cols, df[cols].sort_values(cols).reset_index(drop=True)


def same_rows(con, expected_sql, actual_sql):
    """Multiset equality of two queries; returns an error string or None."""
    ec, exp = _frame_rows(con, expected_sql)
    ac, act = _frame_rows(con, actual_sql)
    if ec != ac:
        return f"columns differ: expected {ec}, got {ac}"
    if len(exp) != len(act):
        return f"row count differs: expected {len(exp)}, got {len(act)}"
    if not exp.equals(act):
        neq = ((exp != act) & ~(exp.isna() & act.isna())).any(axis=1)
        return f"{int(neq.sum())} of {len(exp)} rows differ"
    return None


def tables_con(inputs, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    return con


def check_kg(inputs, res):
    oracle = json.load(open(res["checks"]["oracle"]))
    out = res["checks"]["kg_out"]
    con = tables_con(inputs, ["documents"])
    parse = f"read_parquet('{out}/parse/data/*.parquet')"
    mentions = f"read_parquet('{out}/mentions/data/*.parquet')"
    return {
        "kg_triples": same_rows(con, oracle["kg_triples"],
                                f"SELECT conv_id, turn_idx, subj, pred, obj FROM {parse} WHERE error IS NULL"),
        "kg_parse_errors": same_rows(con, oracle["kg_parse_errors"],
                                     f"SELECT COUNT(*)::BIGINT AS n FROM {parse} WHERE error IS NOT NULL"),
        "kg_mentions": same_rows(con, oracle["kg_mentions"],
                                 f"SELECT conv_id, turn_idx, mention FROM {mentions}"),
    }, {}


# Exact character-3-gram Jaccard >= 0.5 over the lowercased mention, with
# shingles in more than 1000 mentions dropped from both the intersection and
# the set sizes: an independent formulation of the linking contract.
LINK_REFERENCE = """
WITH sh AS (
  SELECT DISTINCT mention, substring(lower(mention), i::INTEGER, 3) AS shingle
  FROM (SELECT mention, unnest(generate_series(1, length(mention) - 2)) AS i
        FROM universe WHERE length(mention) >= 3)),
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 1000),
s AS (SELECT mention, shingle FROM sh JOIN keep USING (shingle)),
sz AS (SELECT mention, COUNT(*) AS n FROM s GROUP BY mention),
inter AS (SELECT x.mention AS a, y.mention AS b, COUNT(*) AS n FROM s x JOIN s y
          ON x.shingle = y.shingle AND x.mention < y.mention GROUP BY 1, 2)
SELECT a, b FROM inter JOIN sz sa ON sa.mention = a JOIN sz sb ON sb.mention = b
WHERE inter.n / (sa.n + sb.n - inter.n) >= 0.5
"""


def check_link(inputs, res):
    d = res["checks"]["link_check"]
    con = tables_con(inputs, ["universe", "truth"])
    problems = {"link_edges": same_rows(con, LINK_REFERENCE,
                                        f"SELECT a, b FROM read_parquet('{d}/edges/*.parquet')")}
    # Pairwise precision and recall of the components against the truth
    # clusters; a mention in no component is a singleton.
    con.execute(f"""CREATE VIEW labeled AS
      SELECT t.mention, t.entity, coalesce(c.component, t.mention) AS component
      FROM truth t LEFT JOIN read_parquet('{d}/components/*.parquet') c ON c.node = t.mention""")
    pairs = lambda keys: con.execute(  # noqa: E731
        f"SELECT coalesce(SUM(n * (n - 1) / 2), 0) FROM "
        f"(SELECT COUNT(*) AS n FROM labeled GROUP BY {keys})").fetchone()[0]
    predicted, true, both = pairs("component"), pairs("entity"), pairs("component, entity")
    precision = both / predicted if predicted else 0.0
    recall = both / true if true else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return problems, {"link_precision": precision, "link_recall": recall, "link_f1": f1}


def check_suite(inputs, res):
    oracle = json.load(open(res["checks"]["oracle"]))
    d = res["checks"]["suite_check"]
    con = tables_con(inputs, ["documents", "embeddings", "events"])
    return {q: same_rows(con, sql, f"SELECT * FROM read_parquet('{d}/{q}/*.parquet')")
            for q, sql in oracle.items()}, {}


CHECKS = {"kg_build": check_kg, "link_heavy": check_link, "suite": check_suite}


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: run from the root of a checkout of the repository (no build.sbt or src/main)")
    end_to_end, per_layer = declared()
    os.makedirs(WORK, exist_ok=True)
    ensure_built()

    t0 = time.time()
    inputs = gen.ensure(args.workload, args.seed, os.path.join(WORK, "inputs"))
    log(f"inputs {gen.fingerprint(inputs)[:16]} ready in {time.time() - t0:.1f} s")
    run_dir = os.path.join(WORK, "run")
    os.makedirs(run_dir, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -Xshare:on: a JVM that cannot map the archive fails, never runs without it
    cmd = java_cmd(f"-XX:SharedArchiveFile={CDS_ARCHIVE}", "-Xshare:on", f"-Djava.io.tmpdir={tmp}") + [
        "--workload", args.workload, "--inputs", inputs, "--work", run_dir,
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out]
    t1 = time.time()
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=170 - (time.time() - t0))
    log(f"benchmark JVM took {time.time() - t1:.1f} s")
    if proc.returncode != 0 or not os.path.isfile(out):
        raise SystemExit(f"perfbench: the benchmark JVM failed with code {proc.returncode}")
    res = json.load(open(out))

    attempted, failed = res["attempted"], res["failed"]
    for why in res["failures"]:
        log(f"FAILED: {why}")
    extra = {}
    if args.workload in CHECKS and not res["failures"]:
        t1 = time.time()
        problems, extra = CHECKS[args.workload](inputs, res)
        for name, problem in problems.items():
            attempted += 1
            if problem:
                failed += 1
                log(f"FAILED check {name}: {problem}")
        log(f"output checks took {time.time() - t1:.1f} s")
    measured = dict(res["metrics"], **extra)
    wanted = per_layer if args.trace else end_to_end
    # A layer the workload does not run did no work: its figures are 0.
    metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
