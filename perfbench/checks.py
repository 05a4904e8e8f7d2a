"""Output checks for perfbench, computed independently in DuckDB.

cube_serve
  * keys of the 9 gis.* tables are unique and their foreign keys closed
    (GRFI/GLI/IndicatorMetaData -> Indicator, GRFI -> IndicatorValues);
  * |Indicator| = product of the non-geo member counts x periods;
  * per product, |IndicatorValues|, |GRFI| and sum(VALUE), and the set
    of unmatched DGUIDs, equal a DuckDB computation over the staged CSV
    and geography_reference.csv;
  * each sampled serving response equals DuckDB's evaluation of the
    same join over the warehouse parquet.
query_mix
  * the re-run query's output hash-matches its declared DuckDB oracle,
    with tools/check_oracle.py's normalisation.

`check` returns a list of problems; an empty list means every check held.
"""
import json
import math
import os
import re
import sys
import tempfile
import zipfile

import duckdb

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
import check_oracle  # noqa: E402  (tools/check_oracle.py of the checkout)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_cube  # noqa: E402

# table -> key columns that must be unique
KEYS = {
    "IndicatorTheme": ["IndicatorThemeId"],
    "Dimensions": ["DimensionId"],
    "DimensionValues": ["DimensionValueId"],
    "Indicator": ["IndicatorId"],
    "IndicatorValues": ["IndicatorValueId"],
    "GeographyReferenceForIndicator": ["IndicatorValueId"],
    "GeographicLevelForIndicator": ["IndicatorId", "GeographicLevelId"],
    "IndicatorMetaData": ["MetaDataId"],
    "RelatedCharts": ["RelatedChartId"],
}
# (child table, column) -> (parent table, column)
FKS = [
    ("GeographyReferenceForIndicator", "IndicatorId", "Indicator", "IndicatorId"),
    ("GeographicLevelForIndicator", "IndicatorId", "Indicator", "IndicatorId"),
    ("IndicatorMetaData", "IndicatorId", "Indicator", "IndicatorId"),
    ("GeographyReferenceForIndicator", "IndicatorValueId", "IndicatorValues", "IndicatorValueId"),
]

PRIMARY_SQL = """
SELECT iv.VALUE AS Value, grfi.GeographyReferenceId, i.IndicatorName_EN, i.IndicatorName_FR, i.IndicatorId,
       i.IndicatorDisplay_EN, i.IndicatorDisplay_FR, i.UOM_EN, i.UOM_FR,
       g.GeographicLevelId, gl.LevelName_EN, gl.LevelName_FR, nr.Symbol,
       nr.Description_EN, nr.Description_FR
FROM GeographyReferenceForIndicator grfi
JOIN georef g ON grfi.GeographyReferenceId = g.GeographyReferenceId
JOIN (SELECT * FROM Indicator WHERE IndicatorId = $id) i ON grfi.IndicatorId = i.IndicatorId
JOIN geolevel gl ON g.GeographicLevelId = gl.GeographicLevelId
JOIN GeographicLevelForIndicator glfi
  ON i.IndicatorId = glfi.IndicatorId AND gl.GeographicLevelId = glfi.GeographicLevelId
JOIN IndicatorValues iv ON iv.IndicatorValueId = grfi.IndicatorValueId
JOIN IndicatorTheme it ON i.IndicatorThemeID = it.IndicatorThemeId
LEFT JOIN nullreasons nr ON iv.NullReasonId = nr.NullReasonId
"""

RELATED_SQL = """
SELECT iv.VALUE AS Value, i.IndicatorName_EN, i.IndicatorName_FR, nr.Description_EN, nr.Description_FR
FROM IndicatorValues iv
LEFT JOIN nullreasons nr ON iv.NullReasonId = nr.NullReasonId
JOIN GeographyReferenceForIndicator gfri ON iv.IndicatorValueId = gfri.IndicatorValueId
JOIN Indicator i ON i.IndicatorId = gfri.IndicatorId
WHERE gfri.IndicatorId IN ({ids})
"""


def check(workload, info, stage, observations, mix_sf, scratch):
    try:
        if workload == "cube_serve":
            return check_cube(info, stage, observations, scratch) + check_serve(info, stage)
        return check_mix(info, mix_sf)
    except Exception as e:  # a check that cannot run is a failed check
        return [f"{workload} checks raised {type(e).__name__}: {e}"]


def _warehouse(con, wh, stage):
    for t in KEYS:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{wh}/{t}/*/*.parquet', hive_partitioning = true)")
    con.execute(f"CREATE OR REPLACE VIEW georef AS SELECT * FROM read_csv("
                f"'{stage}/geography_reference.csv', header = true, all_varchar = true)")
    con.execute(f"CREATE OR REPLACE VIEW geolevel AS SELECT * FROM read_csv("
                f"'{stage}/geographic_level.csv', header = true, all_varchar = true)")
    con.execute(f"CREATE OR REPLACE VIEW nullreasons AS SELECT CAST(NullReasonId AS INT) "
                f"AS NullReasonId, Symbol, Description_EN, Description_FR FROM read_csv("
                f"'{stage}/null_reasons.csv', header = true, all_varchar = true)")


def check_cube(info, stage, observations, scratch):
    problems = []
    con = duckdb.connect()
    _warehouse(con, info["warehouse"], stage)
    for t, cols in KEYS.items():
        k = ", ".join(cols)
        dup = con.execute(f"SELECT count(*) FROM (SELECT {k} FROM {t} "
                          f"GROUP BY {k} HAVING count(*) > 1)").fetchone()[0]
        if dup:
            problems.append(f"{t}: {dup} duplicate keys ({k})")
    for child, c, parent, p in FKS:
        orphans = con.execute(f"SELECT count(*) FROM {child} WHERE {c} NOT IN "
                              f"(SELECT {p} FROM {parent})").fetchone()[0]
        if orphans:
            problems.append(f"{child}.{c}: {orphans} rows without a {parent}")

    merge = json.load(open(os.path.join(stage, "products_to_merge.json")))
    siblings = {int(s) for v in merge.values() for s in v["linked_tables"]}
    unmatched = set()
    tmp = tempfile.mkdtemp(dir=scratch)
    for pid in sorted(observations):
        with zipfile.ZipFile(os.path.join(stage, f"{pid}.zip")) as z:
            z.extract(f"{pid}.csv", tmp)
        con.execute(f"""CREATE OR REPLACE VIEW staged AS SELECT DGUID,
            CAST(VALUE AS DOUBLE) AS VALUE FROM read_csv('{tmp}/{pid}.csv',
            header = true, all_varchar = true)""")
        n_exp, sum_exp = con.execute(
            "SELECT count(*), sum(VALUE) FROM staged WHERE DGUID IN "
            "(SELECT GeographyReferenceId FROM georef)").fetchone()
        unmatched |= {r[0] for r in con.execute(
            "SELECT DISTINCT DGUID FROM staged WHERE DGUID NOT IN "
            "(SELECT GeographyReferenceId FROM georef)").fetchall()}
        n_iv, sum_iv = con.execute(
            f"SELECT count(*), sum(VALUE) FROM IndicatorValues "
            f"WHERE ProductPartitionId = {pid}").fetchone()
        n_grfi = con.execute(
            f"SELECT count(*) FROM GeographyReferenceForIndicator "
            f"WHERE ProductPartitionId = {pid}").fetchone()[0]
        if n_iv != n_exp or n_grfi != n_exp:
            problems.append(f"{pid}: IndicatorValues {n_iv} / GRFI {n_grfi} rows, "
                            f"staged and matched {n_exp}")
        if not math.isclose(sum_iv or 0.0, sum_exp or 0.0, rel_tol=1e-9):
            problems.append(f"{pid}: sum(VALUE) {sum_iv} != staged {sum_exp}")
        if pid in siblings:
            continue
        meta = json.load(open(os.path.join(stage, f"{pid}-meta.json")))[0]["object"]
        members = 1
        for d in meta["dimension"]:
            if d["dimensionNameEn"].lower() != "geography":
                members *= len(d["member"])
        step = gen_cube.FREQ_YEARS[meta["frequencyCode"]]
        periods = len(range(int(meta["cubeStartDate"][:4]),
                            int(meta["cubeEndDate"][:4]) + 1, step))
        n_ind = con.execute(f"SELECT count(*) FROM Indicator WHERE "
                            f"ProductPartitionId = {pid}").fetchone()[0]
        info["indicators"] = n_ind
        if n_ind != members * periods:
            problems.append(f"{pid}: |Indicator| {n_ind} != {members} x {periods}")
    if set(info["dguid_warnings"]) != unmatched:
        problems.append(f"unmatched DGUIDs: program reported {len(info['dguid_warnings'])}, "
                        f"staged data has {len(unmatched)}")
    if not unmatched:
        problems.append("no unmatched DGUIDs staged: the warning path went unexercised")
    return problems


def _digits(s):
    return re.sub(r"[^0-9]", "", s or "")


def _formatted_ok(value, symbol, en, fr):
    if value is None:
        return symbol is not None and en == symbol and fr == symbol
    if en is None or fr is None:
        return False
    return abs(float(en.replace(",", "")) - value) <= 0.005 + 1e-9 * abs(value) \
        and _digits(en) == _digits(fr)


def check_serve(info, stage):
    problems = []
    responses = info.get("serve_responses", [])
    if not responses:
        return ["no serving responses were sampled"]
    con = duckdb.connect()
    _warehouse(con, info["warehouse"], stage)
    symbols = dict(con.execute("SELECT Description_EN, Symbol FROM nullreasons").fetchall())
    for k, resp in enumerate(responses):
        ids = resp["ids"]
        if resp["kind"] == "primary":
            exp = con.execute(PRIMARY_SQL.replace("$id", str(int(ids[0])))).fetchall()
        else:
            exp = con.execute(RELATED_SQL.format(
                ids=",".join(str(int(i)) for i in ids))).fetchall()
        # the program's rows are Value, FormattedValue_EN/_FR, then the
        # columns the oracle selects
        got_plain = [tuple([r[0]] + r[3:]) for r in resp["rows"]]
        exp_plain = [tuple(e) for e in exp]
        if sorted(map(repr, got_plain)) != sorted(map(repr, exp_plain)):
            problems.append(f"serve response {k} ({resp['kind']} {ids[:3]}): "
                            f"{len(got_plain)} rows differ from DuckDB's {len(exp_plain)}")
            continue
        # formatted values: null -> the null reason's symbol, else the value
        # to 2 decimals in both locales
        desc_col = 15 if resp["kind"] == "primary" else 5
        for r in resp["rows"]:
            if not _formatted_ok(r[0], symbols.get(r[desc_col]), r[1], r[2]):
                problems.append(f"serve response {k}: bad formatting {r[:3]}")
                break
    return problems


def check_mix(info, sf):
    if "query" not in info:
        return []
    q = info["query"]
    if not info.get("output"):
        return [f"{q}: the check run failed"]
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        if os.path.exists(f"{sf}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    got, gcols = check_oracle.df_rows(
        con.execute(f"SELECT * FROM '{info['output']}/*.parquet'").df())
    exp, ecols = check_oracle.df_rows(con.execute(info["oracle"]).df())
    if sorted(gcols) != sorted(ecols):
        return [f"{q}: columns {sorted(gcols)} != oracle {sorted(ecols)}"]
    if check_oracle.table_hash(got, gcols) != check_oracle.table_hash(exp, ecols):
        return [f"{q}: output hash differs from its DuckDB oracle "
                f"({len(got)} vs {len(exp)} rows)"]
    return []
