"""Output checks for one benchmark run, by a path independent of the
program: the release documents' raw values recomputed in Python, and every
distinct serving request recomputed with DuckDB over the same store files.

`run(workload, seed, result)` returns (failures, notes); each failed check
counts as one failed operation.
"""
import datetime
import json
import math
import os

import duckdb

METRICS = ("newCasesBySpecimenDate", "newDeathsByDeathDate", "newAdmissions")
CASES = METRICS[0]
TRIM_DAYS = 5
PERCENTILES = (("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p90", 0.9))
# 12 metrics per (area, date): the cases and admissions families, the
# cases rolling rate and the deaths base metric
OUT_METRICS = 12
REL_TOL = 1e-9


def run(workload, seed, res):
    if workload == "release_day":
        return release_day(res["checks"], res["responses"])
    return curation_night(res["checks"], seed)


class Checker:
    def __init__(self):
        self.failures = 0
        self.notes = []

    def check(self, ok, what):
        if not ok:
            self.failures += 1
            if len(self.notes) < 20:
                self.notes.append(what)


def close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def same_rows(got, want):
    key = lambda r: json.dumps([x if not isinstance(x, float) else round(x, 6) for x in r])
    got, want = sorted(got, key=key), sorted(want, key=key)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want))


# --- release_day ---------------------------------------------------------

def read_release(docs, r):
    """{(areaType, areaCode): {metric: {date: value}}} of release r."""
    out = {}
    d = os.path.join(docs, f"r{r}")
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name)) as f:
            doc = json.load(f)
        for area_type, areas in doc.items():
            for code, body in areas.items():
                out[(area_type, code)] = {
                    m: {datetime.date.fromisoformat(o["date"]): float(o["value"])
                        for o in body.get(m, [])} for m in METRICS}
    return out


def expected_cases(series, days, cutoff):
    """{date: (cases, casesRollingSum)} after bounded zero-fill, the 7-day
    rolling sum (7 non-null values), the all-zero guard, base-null
    propagation and the trailing trim."""
    present = [d for d in days if d in series]
    first, last = (min(present), max(present)) if present else (None, None)
    filled = [series.get(d, 0.0 if present and first <= d < last else None) for d in days]
    rolling = []
    for i in range(len(days)):
        frame = filled[max(0, i - 6):i + 1]
        ok = len(frame) == 7 and all(v is not None for v in frame)
        rolling.append(sum(frame) if ok else None)
    if any(v is not None for v in rolling) and sum(v for v in rolling if v is not None) == 0:
        rolling = [None] * len(days)
    rolling = [None if f is None else s for f, s in zip(filled, rolling)]
    return {d: (None, None) if d > cutoff else (f, s)
            for d, f, s in zip(days, filled, rolling)}


def release_day(facts, responses):
    c = Checker()
    store = facts["store"]
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW eav AS SELECT *,
        regexp_extract(filename, 'partition_id=([^/]*)/', 1) AS partition_id
        FROM read_parquet('{store}/*/*.parquet', filename = true)""")
    dups = con.execute("""SELECT count(*) FROM (SELECT hash, partition_id FROM eav
        GROUP BY ALL HAVING count(*) > 1)""").fetchone()[0]
    c.check(dups == 0, f"{dups} duplicate (hash, partition_id) keys")
    counts = dict(con.execute("SELECT partition_id, count(*) FROM eav GROUP BY 1").fetchall())

    for r in facts["releases"]:
        data = read_release(facts["docs"], r)
        dates = [d for series in data.values() for m in series.values() for d in m]
        lo, hi = min(dates), max(dates)
        days = [lo + datetime.timedelta(i) for i in range((hi - lo).days + 1)]
        cutoff = hi - datetime.timedelta(TRIM_DAYS)
        for area_type in sorted({t for t, _ in data}):
            pid = f"2026_8_{r}|{area_type}"
            n_areas = sum(1 for t, _ in data if t == area_type)
            want = n_areas * len(days) * OUT_METRICS
            c.check(counts.get(pid) == want,
                    f"{pid}: {counts.get(pid)} rows, expected {want}")
        stored = {}
        for code, metric, date, payload in con.execute(
                """SELECT areaCode, metric, date, payload FROM eav
                   WHERE partition_id LIKE ? AND metric IN (?, ?)""",
                [f"2026_8_{r}|%", CASES, CASES + "RollingSum"]).fetchall():
            stored[(code, metric, date)] = json.loads(payload)["value"]
        for (_, code), series in data.items():
            for d, (raw, rolling) in expected_cases(series[CASES], days, cutoff).items():
                for metric, want in ((CASES, raw), (CASES + "RollingSum", rolling)):
                    key = (code, metric, d)
                    c.check(key in stored and close(stored[key], want),
                            f"release {r} {key}: stored {stored.get(key)}, expected {want}")

    for resp in responses:
        req = resp["req"]
        got, want = resp["rows"], recompute(con, store, req)
        if req["kind"] == "blob":
            got = [[code, e["date"], e["value"]] for code, blob in got for e in json.loads(blob)]
        c.check(same_rows(got, want),
                f"{req['kind']} {req['partition_id']} {req['metric']}: "
                f"{len(resp['rows'])} rows differ from DuckDB's {len(want)}")
    return c.failures, c.notes


def base_sql(store, release, area_type, metric):
    d = os.path.join(store, f"partition_id=2026_8_{release}|{area_type}")
    if not os.path.isdir(d):
        return ("(SELECT NULL::VARCHAR AS areaType, NULL::VARCHAR AS areaCode, "
                "NULL::DATE AS date, NULL::DOUBLE AS value WHERE false)")
    return f"""(SELECT areaType, areaCode, date,
        TRY_CAST(json_extract_string(payload, '$.value') AS DOUBLE) AS value
        FROM read_parquet('{d}/*.parquet')
        WHERE metric = '{metric}' AND value IS NOT NULL)"""


def latest_per_area(base):
    return f"""(SELECT areaCode, date, value FROM {base}
        QUALIFY rank() OVER (PARTITION BY areaCode ORDER BY date DESC) = 1)"""


def recompute(con, store, req):
    kind, r = req["kind"], req["release"]
    b = base_sql(store, r, req["areaType"], req["metric"])
    at_latest = f"(SELECT * FROM {b} WHERE date = (SELECT max(date) FROM {b}))"
    if kind == "percentile":
        disc = ", ".join(
            f"min(value) FILTER (WHERE rn >= ceil({p}::DOUBLE * n))" for _, p in PERCENTILES)
        cont = ", ".join(
            f"""min(value) FILTER (WHERE rn >= floor({p}::DOUBLE * (n - 1) + 1))
              + (min(value) FILTER (WHERE rn >= ceil({p}::DOUBLE * (n - 1) + 1))
                 - min(value) FILTER (WHERE rn >= floor({p}::DOUBLE * (n - 1) + 1)))
              * max({p}::DOUBLE * (n - 1) + 1 - floor({p}::DOUBLE * (n - 1) + 1))"""
            for _, p in PERCENTILES)
        sql = f"""SELECT areaType, min(value), max(value), {disc}, {cont} FROM (
            SELECT areaType, value, row_number() OVER (ORDER BY value) AS rn,
                   count(*) OVER () AS n FROM {at_latest}) GROUP BY areaType"""
    elif kind == "latest":
        sql = f"SELECT areaCode, date, value FROM {latest_per_area(b)}"
    elif kind == "top_n":
        sql = f"""SELECT areaCode, date, value FROM {at_latest}
            ORDER BY value DESC, areaCode LIMIT 10"""
    elif kind == "delta":
        prev = base_sql(store, r - 1, req["areaType"], req["metric"])
        sql = f"""SELECT t.areaCode, t.value,
                greatest(t.value - coalesce(y.value, 0), 0)
            FROM {latest_per_area(b)} t LEFT JOIN {latest_per_area(prev)} y USING (areaCode)"""
    else:  # blob, one row per element of the area's JSON array
        sql = f"SELECT areaCode, date, value FROM {b} WHERE areaCode = '{req['areaCode']}'"
    return [[x.isoformat() if isinstance(x, datetime.date) else x for x in row]
            for row in con.execute(sql).fetchall()]


# --- curation_night ------------------------------------------------------

def curation_night(facts, seed):
    c = Checker()
    con = duckdb.connect()
    doc_ids = [r[0] for r in con.execute(
        f"SELECT doc_id FROM read_parquet('{facts['documents']}/*.parquet')").fetchall()]
    tomb = facts["tomb_mod"]
    taken_down = {i for i in doc_ids if i % 9 == tomb}
    new = {i for i in doc_ids if (i + seed) % 10 >= 8}
    for n, manifest in enumerate(facts["manifests"]):
        c.check(len(manifest) > 0, f"night {n}: empty manifest")
        bad = set(manifest) & taken_down
        c.check(not bad, f"night {n}: taken-down ids in the manifest: {sorted(bad)[:5]}")
        stray = set(manifest) - new
        c.check(not stray, f"night {n}: manifest ids outside the new slice: {sorted(stray)[:5]}")
    served = facts["served"]
    c.check(len(served) > 0, "no neighbours served")
    bad = [i for i in served if i % 9 == tomb]
    c.check(not bad, f"taken-down vectors served as neighbours: {bad[:5]}")
    evals = [i for i in served if i % facts["eval_every"] == 0]
    c.check(not evals, f"eval vectors served as corpus neighbours: {evals[:5]}")
    return c.failures, c.notes
