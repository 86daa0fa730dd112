"""DuckDB oracle for the etl_reference calls.

Each distinct call the JVM ran is replayed once as SQL over the same
parquet tables, and its rows are compared with the rows the program
returned, as multisets. The SQL follows the registry's q1-q8 oracle
queries, with the call's parameters substituted.
"""
import json
import sys
import os

import duckdb

GEO = {
    "region_name": "r_name",
    "nation_name": "n_name",
    "mktsegment": "c_mktsegment",
    "nation_label": "n_name || ', ' || r_name",
}
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

FACTS = """SELECT o_custkey AS unit_id,
  lpad(l_returnflag, 2, '0') || '.' || CAST(l_linenumber AS VARCHAR) AS cipcode,
  l_quantity, l_extendedprice, l_discount
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_linestatus = 'F'"""


def lst(vs):
    return "(" + ", ".join(f"'{v}'" if isinstance(v, str) else str(v) for v in vs) + ")"


def pad(code):
    head, _, rest = code.partition(".")
    head = head.rjust(2, "0")
    return head + ("." + rest if "." in code else "")


def dsum(x):
    return f"(CAST(SUM(CAST(FLOOR(({x}) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0)"


def units(where, geo):
    extra = f", {GEO[geo]} AS {geo}" if geo else ""
    return f"""SELECT c_custkey{extra}
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE {where}"""


def school_query(where, codes, geo):
    code_filter = f" AND f.cipcode IN {lst([pad(c) for c in codes])}" if codes else ""
    if geo:
        return f"""SELECT f.unit_id, f.cipcode, f.l_quantity, f.l_extendedprice, f.l_discount, u.{geo}
FROM ({FACTS}) f JOIN ({units(where, geo)}) u ON f.unit_id = u.c_custkey
WHERE TRUE{code_filter}"""
    return f"""SELECT f.unit_id, f.cipcode, f.l_quantity, f.l_extendedprice, f.l_discount
FROM ({FACTS}) f
WHERE f.unit_id IN (SELECT c_custkey FROM ({units(where, None)})){code_filter}"""


ONET = """(SELECT *, CASE WHEN event_id % 2 = 0 THEN 'IM' ELSE 'LV' END AS scale
FROM events)"""


def sql(kind, p):
    if kind == "getUnitIds":
        keep = p["keep"]
        extra = f", {GEO[keep]} AS {keep}" if keep else ""
        return f"""SELECT c_custkey AS unit_id{extra}
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name IN {lst(p['regions'])}"""
    if kind == "schoolQuery":
        return school_query(f"c_mktsegment IN {lst(p['segments'])}", p["codes"], p["geo"])
    if kind == "awards":
        geo = p["geo"]
        keys = "cipcode" + (f", {geo}" if geo else "")
        measures = f"{dsum('l_quantity')} AS sum_qty"
        if p["how"] == "detail":
            measures += f""", {dsum('l_extendedprice')} AS sum_price,
  CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) *
           CAST(FLOOR((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_revenue"""
        q = f"""SELECT {keys}, {measures}
FROM ({school_query(f"r_name IN {lst(p['regions'])}", [], geo)})
GROUP BY {keys}"""
        if p["level"] is not None:
            q = f"SELECT * FROM ({q}) WHERE length(cipcode) = {p['level']}"
        if p["labels"]:
            cases = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in p["labels"].items())
            q = f"SELECT *, CASE cipcode {cases} ELSE cipcode END AS cipname FROM ({q})"
        return q
    if kind == "programs":
        geo = p["geo"]
        keys = "cipcode" + (f", {geo}" if geo else "")
        return f"""SELECT {keys}, COUNT(unit_id) AS prog_count
FROM ({school_query(f"c_mktsegment IN {lst(p['segments'])}", p["codes"], geo)})
GROUP BY {keys}"""
    if kind == "schoolsDistinct":
        geo = p["geo"]
        return f"""SELECT {geo}, COUNT(DISTINCT unit_id) AS school_count
FROM ({school_query(f"r_name IN {lst(p['regions'])}", [], geo)})
GROUP BY {geo}"""
    if kind == "quantLong":
        return f"""SELECT user_id, event_type, scale, value FROM {ONET}
WHERE user_id IN {lst(p['socs'])} AND scale = '{p['scale']}'"""
    if kind == "quantWide":
        cols = ", ".join(f"max(CASE WHEN event_type = '{t}' THEN value END) AS {t}"
                         for t in EVENT_TYPES)
        return f"""SELECT user_id, {cols} FROM {ONET}
WHERE user_id IN {lst(p['socs'])} AND scale = '{p['scale']}' GROUP BY user_id"""
    if kind == "qualOneHot":
        cols = ", ".join(f"count(CASE WHEN event_type = '{t}' THEN 1 END) > 0 AS {t}"
                         for t in EVENT_TYPES)
        return f"""SELECT user_id, {cols} FROM events
WHERE user_id IN {lst(p['socs'])} GROUP BY user_id"""
    if kind == "translate":
        stone = f"""(SELECT DISTINCT n_nationkey, n_regionkey FROM nation
WHERE n_regionkey <> {p['drop_region']}) n"""
        if p["how"] == "inner":
            return f"""SELECT c_custkey, n_regionkey, r_name
FROM customer JOIN {stone} ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey"""
        return f"""SELECT c_custkey, n_regionkey
FROM customer LEFT JOIN {stone} ON c_nationkey = n_nationkey"""
    if kind == "translateExplode":
        return f"""SELECT c_custkey, r_name AS tags
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
UNION ALL
SELECT c_custkey, '{p['tag']}' AS tags FROM customer"""
    raise ValueError(f"unknown call kind {kind}")


def canon(rows):
    """Rows as a sorted list of comparable tuples; doubles to 6 decimals."""
    def v(x):
        if isinstance(x, float):
            return ("f", round(x, 6))
        if isinstance(x, bool):
            return ("b", x)
        if x is None:
            return ("n", "")
        if isinstance(x, int):
            return ("i", x)
        return ("s", str(x))
    return sorted(tuple(v(x) for x in r) for r in rows)


def check(calls_file, input_dir):
    """Op indices whose call's rows differ from the DuckDB replay."""
    with open(calls_file) as fh:
        calls = json.load(fh)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(input_dir, t + '.parquet')}/*.parquet')")
    failed = []
    for c in calls:
        q = con.execute(sql(c["kind"], c["params"]))
        cols = [d[0] for d in q.description]
        want = canon(q.fetchall())
        if cols != c["columns"] or canon(c["rows"]) != want:
            failed += c["ops"]
            print(f"oracle: {c['kind']} {json.dumps(c['params'])} differs "
                  f"({len(c['rows'])} rows vs {len(want)}; columns {c['columns']} vs {cols})",
                  file=sys.stderr)
    con.close()
    return failed
