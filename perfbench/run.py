#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload explore|curate|batch_ops \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles `src/main/scala`
and `perfbench/harness` with the Scala compiler shipped in Spark's jars
(into `.bench_build/`); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, computes DuckDB's
expected digests, runs the harness, and prints a report line and, last,
one JSON result line. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import digest  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = ROOT / ".bench_build" / "perfbench"
WORK = ROOT / ".bench_work"
SCALE = 0.02
HEAP = "3g"
SETUPS = 3
DEADLINE_S = 170

BATCH_QUERIES = [
    ("q1_pricing_summary", "queries.relational_s"), ("q3_join_agg", "queries.relational_s"),
    ("j_semi_exists", "queries.relational_s"), ("events_tumbling_window", "queries.events_s"),
    ("text_token_stats", "functions.text_s"), ("dedup_drop_exact", "ops.dedup_s"),
    ("ann_lsh_buckets", "ops.ann_s"), ("sample_stratified", "ops.sample_s"),
    ("sample_split_assign", "ops.sample_s"), ("report_duplication_profile", "ops.report_s"),
    ("quality_quantile_report", "ops.quality_s"),
]
# the query order is part of the workload's definition, like explore's script
BATCH_ORDER_SEED = 20202
EXPLORE_JOINS = ["j1_intersect_join", "j2_within_semi", "j3_exclude_anti",
                 "j6_bbox_range_join", "j8_intersection_area"]
CURATE_SHARDS = 2
CURATE_MAINTAIN_EVERY = 2
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(os.path.realpath(submit)).parent.parent) if submit else ""
    jars = Path(home) / "jars" if home else None
    if not jars or not list(jars.glob("scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark distribution with a Scala compiler (set SPARK_HOME)")
    return jars


def sources():
    src = ROOT / "src" / "main" / "scala"
    if not src.is_dir():
        raise SystemExit(f"perfbench: {src.relative_to(ROOT)} not found; run from a checkout root")
    return sorted(src.rglob("*.scala")) + sorted((HERE / "harness").glob("*.scala"))


def build():
    """Compile the program and the harness unless an up-to-date build exists."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    if (BUILD / "stamp").is_file() and (BUILD / "stamp").read_text() == stamp:
        return jars, classes, stamp
    log("perfbench: compiling sources")
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = BUILD / "classes.tmp"
    tmp.mkdir(parents=True)
    compiler = os.pathsep.join(str(p) for pat in ("scala-compiler-*", "scala-library-*",
                                                  "scala-reflect-*") for p in jars.glob(pat + ".jar"))
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
                    "scala.tools.nsc.Main",
                    "-nowarn", "-d", str(tmp), "-classpath", str(jars / "*"), "@" + str(argfile)],
                   check=True, stdout=sys.stderr)
    tmp.rename(classes)
    subprocess.run(java_cmd(jars, classes) + ["--export-oracles", str(BUILD / "oracles.json")],
                   check=True, stdout=sys.stderr)
    (BUILD / "stamp").write_text(stamp)
    return jars, classes, stamp


def java_cmd(jars, classes, scratch=BUILD):
    """The harness JVM; Spark's local and temporary files go to `scratch`."""
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = Path(scratch) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return ["java", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-cp", f"{classes}{os.pathsep}{jars / '*'}", "graft.perfbench.Harness"]


def sql_panel(rng):
    """SQL-panel statements in the DuckDB dialect, parameters drawn from the seed."""
    return [
        f"SELECT c_mktsegment, count(*) AS n, min(c_acctbal) AS lo, max(c_acctbal) AS hi "
        f"FROM customer WHERE c_nationkey = {rng.randrange(25)} GROUP BY ALL",
        f"SELECT o_orderpriority, o_orderstatus, count(*) AS n, max(o_totalprice) AS mx "
        f"FROM orders WHERE o_orderdate >= DATE '199{rng.randrange(5, 9)}-0{rng.randrange(1, 10)}-01' "
        f"GROUP BY ALL ORDER BY ALL",
        f"SELECT n_name, count(*) AS n FROM customer JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE c_acctbal > {rng.randrange(0, 9000)} GROUP BY n_name ORDER BY n DESC, n_name LIMIT 5",
        f"SELECT p_type, count(DISTINCT p_brand) AS brands, min(p_retailprice) AS lo FROM part "
        f"WHERE p_size BETWEEN {rng.randrange(1, 20)} AND {rng.randrange(25, 51)} GROUP BY ALL",
        f"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty FROM lineitem "
        f"WHERE l_shipdate < DATE '199{rng.randrange(6, 9)}-06-01' GROUP BY ALL ORDER BY ALL",
        f"SELECT event_type, count(*) AS n, max(value) AS mx FROM events "
        f"WHERE user_id % {rng.randrange(2, 9)} = 0 GROUP BY ALL",
    ]


def bounds(n, parts):
    return [n * i // parts for i in range(parts + 1)]


def curate_inputs(con, out, doc_b, emb_b):
    """Shard files for `curate`: documents outside the bench source with
    the HTML and URL columns pipeline_curate_web synthesizes, split by
    doc_id range, and the matching embeddings slices. Returns the number
    of documents and their HTML bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True)
    rows = con.execute("SELECT doc_id, text, source FROM documents WHERE source <> 'src0' "
                       "ORDER BY doc_id").fetchall()
    shell = ("<html><body><script>var n = 0; // " + "pad " * 50 +
             "</script><p>tiny</p></body></html>")

    def html(d, text):
        if d % 17 == 3:
            return shell
        return f"<html><body><p>SHARED NAV BAR</p><p>{text} more info</p></body></html>"

    def url(d):
        if d % 3 == 0:
            return f"http://dup{d % 11}.com/x?gclid={d}"
        return f"http://u{d}.site.com/p/{d % 5}?utm_source=z"

    for i in range(len(doc_b) - 1):
        mine = [r for r in rows if doc_b[i] <= r[0] < doc_b[i + 1]]
        pq.write_table(pa.table({
            "doc_id": pa.array([d for d, _, _ in mine], pa.int64()),
            "html": [html(d, t) for d, t, _ in mine],
            "url": [url(d) for d, _, _ in mine],
            "source": [src for _, _, src in mine]}), out / f"shard{i}.parquet")
        con.execute(f"COPY (SELECT * FROM embeddings WHERE vec_id >= {emb_b[i]} "
                    f"AND vec_id < {emb_b[i + 1]} ORDER BY vec_id) "
                    f"TO '{out / f'emb{i}.parquet'}' (FORMAT PARQUET)")
    return len(rows), sum(len(html(d, t).encode()) for d, t, _ in rows)


def make_spec(workload, seed, seconds, trace, data, work):
    """Parameters and DuckDB-expected digests for one run."""
    import duckdb

    oracles = json.loads((BUILD / "oracles.json").read_text())
    con = duckdb.connect()
    for p in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    n_docs, n_emb = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                     for t in ("documents", "embeddings"))
    expected = {}
    rng = random.Random(seed)
    params = {}
    if workload == "explore":
        panel = sql_panel(rng)
        for i, sql in enumerate(panel):
            expected[f"sql:{i}"] = digest.query(con, sql)
        names = EXPLORE_JOINS
        params = {"sql_panel": panel, "joins": EXPLORE_JOINS, "rounds": 1,
                  "fixture_rows": 600, "fixture_files": 8}
    elif workload == "curate":
        names = ["ann_index_append"]
        doc_b = bounds(n_docs, CURATE_SHARDS)
        cur = con.execute(oracles["pipeline_curate_web"])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        k = cols.index("doc_id")
        for i in range(CURATE_SHARDS):
            mine = [r for r in rows if doc_b[i] <= r[k] < doc_b[i + 1]]
            expected[f"curate:shard{i}"] = digest.rows(cols, mine)
        inputs = work / "curate_input"
        docs, in_bytes = curate_inputs(con, inputs, doc_b, bounds(n_emb, CURATE_SHARDS))
        params = {"shards": CURATE_SHARDS, "maintain_every": CURATE_MAINTAIN_EVERY,
                  "input_dir": str(inputs), "docs": docs, "input_bytes": in_bytes}
    else:
        order = BATCH_QUERIES[:]
        random.Random(BATCH_ORDER_SEED).shuffle(order)
        names = [q for q, _ in order]
        params = {"queries": order}
    for q in names:
        if q in oracles:
            expected[f"oracle:{q}"] = digest.query(con, oracles[q])
    con.close()
    return {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "data_dir": str(data), "work_dir": str(work), "setups": SETUPS,
            "params": params, "expected": expected,
            "inject": os.environ.get("PERFBENCH_INJECT") == "1"}


# the search_name a load composes for each fixture theme: the name and
# the searchable theme fields (CacheSelect.buildCacheSelect)
SEARCH_NAME = {
    "places/place": "concat_ws(' ', names.primary, categories.primary, brand.names.primary)",
    "buildings/building": "concat_ws(' ', names.primary, subtype, class)",
}


def area_sql(theme, area):
    """The rows of `theme`'s fixture files that a load of `area`'s
    window keeps (an Overture bbox overlapping the window), with their
    centroids and search names; every fixture geometry is its own bbox."""
    xmin, ymin, xmax, ymax = area["bbox"]
    return (f"SELECT id, '{theme}' AS _source, bbox.xmin AS x0, bbox.xmax AS x1, "
            f"bbox.ymin AS y0, bbox.ymax AS y1, (bbox.xmin + bbox.xmax) / 2 AS cx, "
            f"(bbox.ymin + bbox.ymax) / 2 AS cy, {SEARCH_NAME[theme]} AS search_name "
            f"FROM read_parquet('{area['dir']}/*.parquet') "
            f"WHERE bbox.xmax >= {xmin} AND bbox.xmin <= {xmax} "
            f"AND bbox.ymax >= {ymin} AND bbox.ymin <= {ymax}")


def pipeline_sql(d):
    """The (id, _source) rows an edit must return, written from the
    pipeline rules (PipelineCompiler's doc comment) rather than from the
    compiled SQL: union adds the other theme's rows; intersect keeps rows
    of either theme that touch a row of the other theme's table; exclude
    keeps primary rows with no row of the other theme within 27,830 m
    (0.25 degrees); pairs need distinct ids and centroids less than 0.2
    degrees apart on both axes; the bbox filters centroids; a search term
    keeps the rows whose search name shares a token with it (every
    loaded table has a full-text index, unstemmed), and filters the
    pipeline's sources, not the table a combine step tests against.
    Limits exceed every table, so no limit applies."""
    p, q = area_sql(d["primary"], d["areas"][d["primary"]]), area_sql(d["other"], d["areas"][d["other"]])
    terms = [t for t in re.split("[^a-z0-9]+", d["search"].lower()) if t]
    hit = ("TRUE" if not d["search"] else "FALSE" if not terms else
           f"list_has_any(regexp_split_to_array(lower(search_name), '[^a-z0-9]+'), {terms})")
    near = "a.id <> b.id AND abs(a.cx - b.cx) < 0.2 AND abs(a.cy - b.cy) < 0.2"
    touch = "a.x0 <= b.x1 AND b.x0 <= a.x1 AND a.y0 <= b.y1 AND b.y0 <= a.y1"
    dist2 = ("power(greatest(0, a.x0 - b.x1, b.x0 - a.x1), 2) + "
             "power(greatest(0, a.y0 - b.y1, b.y0 - a.y1), 2)")
    sources = f"({p}) UNION ALL ({q})" if d["combine"] in ("union", "intersect") else p
    where = ["TRUE"]
    if d["combine"] == "intersect":
        where.append(f"(EXISTS (SELECT 1 FROM q b WHERE {near} AND {touch}) OR "
                     f"(a._source = '{d['other']}' AND EXISTS "
                     f"(SELECT 1 FROM base b WHERE {near} AND {touch})))")
    elif d["combine"] == "exclude":
        where.append(f"NOT EXISTS (SELECT 1 FROM q b WHERE {near} AND {dist2} < 0.0625)")
    if d["bbox"]:
        xmin, xmax, ymin, ymax = d["bbox"]
        where.append(f"a.cx >= {xmin} AND a.cx <= {xmax} AND a.cy >= {ymin} AND a.cy <= {ymax}")
    return (f"WITH q AS ({q}), base AS (SELECT * FROM ({sources}) WHERE {hit}) "
            f"SELECT a.id, a._source FROM base a WHERE {' AND '.join(where)}")


def check_deferred(res):
    """Runs the checks the harness left to DuckDB (explore's area loads
    and edits, over the fixture files) and fails every op whose result
    differs."""
    import duckdb

    con = duckdb.connect()
    known = {}
    for d in res.get("deferred", []):
        try:
            areas = d["areas"].values() if d["kind"] == "edit" else [d["window"]]
            if any(a["bbox"] is None for a in areas):
                raise ValueError("a theme of this op was not loaded")
            if d["kind"] == "edit":
                sql = pipeline_sql(d)
                if sql not in known:
                    known[sql] = digest.query(con, sql)
            else:
                sql = f"SELECT least(count(*), {d['limit']}) FROM ({area_sql(d['theme'], d['window'])})"
                if sql not in known:
                    known[sql] = con.execute(sql).fetchone()[0]
            want = known[sql]
            err = None if want == d["got"] else f"{d['got']} != DuckDB's {want}"
        except Exception as e:  # noqa: BLE001 — a failed check fails the op
            err = f"check failed: {e}"
        if err:
            o = res["ops"][d["op"]]
            o["ok"], o["err"] = False, f"digest {err}"
    con.close()


def commit(stamp):
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "sources-sha256:" + stamp[:16]


def cpu_ticks():
    """The host's CPU tick counters (Linux /proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    readings: run-to-run noise on a shared host shows here."""
    if not before or not after or len(before) < 8:
        return None
    d = [y - x for x, y in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else None


def run_harness(cmd, log_path, budget):
    with open(log_path, "w") as logf:
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True, env=env)
        try:
            return proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("perfbench: harness exceeded its time budget")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["explore", "curate", "batch_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    jars, classes, stamp = build()
    t_start = time.time()  # a build may take longer; the run after it may not
    work = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    try:
        gen.write(str(data), a.seed, SCALE)
        spec = make_spec(a.workload, a.seed, a.seconds, a.trace, data, work)
        (work / "spec.json").write_text(json.dumps(spec))
        ticks = cpu_ticks()
        code = run_harness(java_cmd(jars, classes, work) + ["--spec", str(work / "spec.json"),
                                                      "--out", str(work / "result.json")],
                           work / "harness.log", max(10, DEADLINE_S - (time.time() - t_start)))
        if code != 0 or not (work / "result.json").is_file():
            sys.stderr.write((work / "harness.log").read_text()[-4000:])
            raise SystemExit(f"perfbench: harness exited with {code}")
        res = json.loads((work / "result.json").read_text())
        res["provenance"]["cpu_steal_share"] = steal_share(ticks, cpu_ticks())
        check_deferred(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = result(a, spec, res, stamp)
    print(json.dumps(out["report"]))
    print(json.dumps(out["line"]))


def result(a, spec, res, stamp):
    conf = json.loads((HERE.parent / "BENCHMARK.json").read_text()) \
        if (HERE.parent / "BENCHMARK.json").is_file() else {}
    phases = {"warmup", "base", "traced"} if a.trace else {"warmup", "measure"}
    attempted, failed, _ = metrics.accounting(res["ops"], phases)
    prov = dict(res["provenance"], commit=commit(stamp), seed=a.seed)
    if not prov["anchors_s"]:  # batch_ops runs the anchors as ops
        prov["anchors_s"] = {q: metrics.median([o["ms"] / 1000 for o in res["ops"]
                                                if o["name"] == q and o["ok"]])
                             for q in ("q1_pricing_summary", "q3_join_agg")}
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "provenance": prov,
              "checked_after_run": len(res.get("deferred", [])),
              "failures": [f"{o['kind']} {o['name']} (pass {o['pass']}): {o['err']}"
                           for o in res["ops"] if not o["ok"] and o["phase"] in phases][:20]}
    if a.trace:
        got = metrics.per_layer(res, spec)
        report["layer_share_of_run"] = metrics.layer_shares(got, res)
        wanted = {m["name"]: m["unit"] for m in conf.get("per_layer", [])}
    else:
        got = metrics.end_to_end(a.workload, res, spec)
        wanted = {m["name"]: m["unit"] for m in conf.get("end_to_end", [])}
    report["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in got.items()}
    report["op_p50_ms_by_name"] = metrics.by_name(res["ops"], phases, a.workload != "explore")
    report["passes_s"] = {p["phase"]: [] for p in res["passes"]}
    for p in res["passes"]:
        report["passes_s"][p["phase"]].append(round(p["s"], 3))
    out = {k: {"value": got[k][0], "unit": u} for k, u in wanted.items()
           if k in got and got[k][0] is not None}
    correct = failed == 0 and len(out) == len(wanted)
    return {"report": {"report": report},
            "line": {"correct": correct, "attempted": max(1, attempted), "failed": failed,
                     "metrics": out}}


if __name__ == "__main__":
    main()
