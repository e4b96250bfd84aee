"""Output checks that run outside the timed region, in DuckDB.

* gtfs_day: every medallion job's gold report and drill-down against a
  gold report DuckDB computes straight from the bronze JSON (an
  independent re-implementation of silver + gold in SQL).
* corpus_day: the pipe01 audit and pipe02 manifest against the DuckDB
  oracle SQL graft ships for them (``Pipeline.oracle``); the expected
  rows are cached per seed because the oracle is slow.

The stream fold and the index probes are checked inside the harness
(their reference is another graft computation over the same inputs).
A mismatch counts one failed operation per job.
"""
import json
import os

import duckdb

import gen

DEG = 0.017453292519943295


def _hav(a1, o1, a2, o2):
    dlat = "((%s - %s) * %r)" % (a2, a1, DEG)
    dlon = "((%s - %s) * %r)" % (o2, o1, DEG)
    a = ("(sin(%s / 2) * sin(%s / 2) + cos(%s * %r) * cos(%s * %r) * "
         "(sin(%s / 2) * sin(%s / 2)))" % (dlat, dlat, a1, DEG, a2, DEG, dlon, dlon))
    return "(12742.0 * atan2(sqrt(%s), sqrt(1.0 - %s)))" % (a, a)


def gold_sql(bronze_root):
    y, m, d = gen.DAY
    day = "%04d-%02d-%02d" % (y, m, d)
    glob = os.path.join(bronze_root, "WAW", "*", "*", "*", "*.json")
    return f"""
WITH raw AS (
  SELECT unnest(result) AS v FROM read_json('{glob}', format='auto',
    columns={{'result': 'STRUCT("Lines" VARCHAR, "VehicleNumber" VARCHAR, "Lat" DOUBLE, "Lon" DOUBLE, "Time" VARCHAR)[]'}},
    hive_partitioning=false)),
proj AS (
  SELECT trim(v."Lines") AS Lines, trim(v."VehicleNumber") AS VehicleNumber,
         v."Lat" AS Lat, v."Lon" AS Lon, try_cast(v."Time" AS TIMESTAMP) AS Time
  FROM raw),
clean AS (
  SELECT * FROM proj
  WHERE Lines IS NOT NULL AND VehicleNumber IS NOT NULL AND Lat IS NOT NULL
    AND Lon IS NOT NULL AND Time IS NOT NULL
    AND Lat BETWEEN 52.0 AND 52.4 AND Lon BETWEEN 20.5 AND 21.5
    AND CAST(Time AS DATE) = DATE '{day}' AND Lines <> ''),
silver AS (
  SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (PARTITION BY VehicleNumber, Time
                                 ORDER BY Lines, Lat, Lon) AS rn FROM clean)
  WHERE rn = 1),
prev AS (
  SELECT *, lag(Lat) OVER w AS pLat, lag(Lon) OVER w AS pLon, lag(Time) OVER w AS pTime
  FROM silver WINDOW w AS (PARTITION BY VehicleNumber ORDER BY Time)),
m AS (
  SELECT *, coalesce({_hav("pLat", "pLon", "Lat", "Lon")}, 0.0) AS dist_km,
         epoch(Time) - epoch(pTime) AS dt
  FROM prev),
enriched AS (
  SELECT *, dist_km / 100.0 * 30.0 * 6.5 AS cost_pln,
         CASE WHEN dt > 0 THEN dist_km / dt * 3600.0 ELSE 0.0 END AS speed_kmh
  FROM m),
kept AS (SELECT * FROM enriched WHERE speed_kmh <= 70.0)
"""


REPORT = """
SELECT Lines, sum(dist_km) AS total_distance_km, sum(cost_pln) AS total_cost_pln,
       max(dist_km) AS max_segment_km, count(VehicleNumber) AS data_points_count,
       avg(speed_kmh) AS avg_speed, max(speed_kmh) AS max_recorded_speed,
       count(DISTINCT VehicleNumber) AS unique_vehicles_count
FROM kept GROUP BY Lines"""

GOLD_COLS = ["Lines", "total_distance_km", "total_cost_pln", "max_segment_km",
             "data_points_count", "avg_speed", "max_recorded_speed",
             "unique_vehicles_count"]


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def _rows_equal(got, want):
    if len(got) != len(want):
        return False
    return all(len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


def _expected_gold(con, bronze_root):
    base = gold_sql(bronze_root)
    report = con.execute(base + REPORT + " ORDER BY Lines").fetchall()
    top = sorted(report, key=lambda r: (-r[2], r[0]))[0]
    veh = con.execute(base + """
        SELECT VehicleNumber, sum(dist_km) AS km FROM kept WHERE Lines = ?
        GROUP BY VehicleNumber ORDER BY km DESC, VehicleNumber ASC LIMIT 1""",
                      [top[0]]).fetchone()
    return report, top[0], veh


def _check_medallion(data, res, corrupt):
    con = duckdb.connect()
    report, top_line, veh = _expected_gold(con, os.path.join(data, "bronze"))
    if corrupt:
        report = report[1:]
    for c in res["checks"]:
        got = con.execute(
            "SELECT %s FROM read_parquet('%s/*/*.parquet') ORDER BY Lines"
            % (", ".join(GOLD_COLS), c["gold"])).fetchall()
        ok = (_rows_equal(got, report) and c["top_line"] == top_line
              and c["vehicle"] == veh[0] and _close(c["vehicle_km"], veh[1]))
        if not ok:
            res["failed"] += 1
            res["failures"].append("job %d: gold report or drill-down mismatch" % c["job"])


def expected_curation(data, work):
    """The oracle's pipe01/pipe02 rows for this corpus, cached per seed
    (the oracle SQL is written by the harness during set-up)."""
    cache = os.path.join(data, "expected.json")
    if not os.path.exists(cache):
        con = duckdb.connect()
        con.execute("SET threads = 2")
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
                    % os.path.join(data, "corpus"))
        exp = {}
        for q in ("pipe01_curation_audit", "pipe02_shard_manifest"):
            sql = open(os.path.join(work, q + ".sql")).read()
            exp[q] = [list(r) for r in con.execute(
                "SELECT * FROM (%s) ORDER BY ALL" % sql).fetchall()]
        with open(cache + ".tmp", "w") as f:
            json.dump(exp, f)
        os.replace(cache + ".tmp", cache)
    return json.load(open(cache))


def _check_curation(data, run_dir, res, corrupt):
    exp = expected_curation(data, os.path.join(run_dir, "w"))
    if corrupt:
        exp = {k: v[1:] for k, v in exp.items()}
    con = duckdb.connect()
    for c in res["checks"]:
        audit = [list(r) for r in con.execute(
            "SELECT doc_id, stage FROM read_parquet('%s/*.parquet') ORDER BY ALL"
            % c["audit"]).fetchall()]
        manifest = [list(r) for r in con.execute(
            "SELECT shard, source, n_docs, n_tokens FROM read_parquet('%s/*.parquet') ORDER BY ALL"
            % c["manifest"]).fetchall()]
        if audit != exp["pipe01_curation_audit"] or manifest != exp["pipe02_shard_manifest"]:
            res["failed"] += 1
            res["failures"].append("job %d: curation output differs from the oracle" % c["job"])
    # stage shares of the (checked) audit
    stages = {}
    for _, s in exp["pipe01_curation_audit"]:
        stages[s] = stages.get(s, 0) + 1
    n = float(sum(stages.values())) or 1.0
    for s in ("quality", "langid", "eval", "exact_dup", "near_dup", "contaminated", "kept"):
        res["metrics"]["curation.stage.%s" % s] = {"value": stages.get(s, 0), "unit": "count"}
    res["metrics"]["curation.kept_ratio"] = {"value": stages.get("kept", 0) / n, "unit": "ratio"}


def verify(workload, data, run_dir, res, corrupt):
    if workload == "gtfs_day":
        _check_medallion(data, res, corrupt)
    elif workload == "corpus_day":
        _check_curation(data, run_dir, res, corrupt)
