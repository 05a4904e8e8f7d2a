"""Deterministic StatCan-shaped cube generator.

Builds WDS cube products from the TPC-H-shaped sf tables (customer,
part, orders, lineitem) and stages them in the layout
`graft.cube.EtlMain` reads:

  {pid}.zip (holding {pid}.csv), {pid}-meta.json, code_sets.json,
  product_defaults.json, products_to_merge.json,
  geography_reference.csv, null_reasons.csv, geographic_level.csv

Mapping:
  * Geography: one member per customer, rendered as a DGUID
    ("2021" + a level code from the market segment + the key). A
    seeded ~5% of the DGUIDs is left out of geography_reference.csv.
  * Non-geo dimensions: part brand (25 members), part size (50) and an
    Estimate dimension whose members carry UOM codes.
  * Reference periods: year starts between min and max o_orderdate,
    stepped by the product's frequency code, so every observation lands
    on a period the indicator series contains.
  * Observations: lineitems sampled by a seeded hash, aggregated so
    (DGUID, COORDINATE, REF_DATE) is unique; a seeded share gets a null
    VALUE with a status symbol.

The same (seed, product specs) always produce byte-identical files.
"""
import json
import os
import zipfile

import duckdb

# DGUID level codes (chars 5-9 of a DGUID), one per market segment.
# S0504 (a CA) collapses to S0503 in GeographicLevelForIndicator, as
# real CA/CMA levels do.
LEVELS = ["A0002", "A0003", "A0004", "A0005", "S0504"]
LEVEL_NAMES = {
    "A0002": "Province", "A0003": "Census division", "A0004": "Census subdivision",
    "A0005": "Census tract", "S0503": "Census metropolitan area",
    "S0504": "Census agglomeration",
}

# Estimate members: (name_en, name_fr, uom code, SQL aggregate)
ESTIMATES = [
    ("Quantity", "Quantité", 223, "sum(l_quantity)"),
    ("Revenue", "Revenus", 81, "round(sum(l_extendedprice), 2)"),
    ("Line count", "Nombre de lignes", 223, "count(*)::DOUBLE"),
]
UOMS = {223: ("Number", "Nombre"), 81: ("Dollars", "Dollars")}

NULL_REASONS = [(1, "x", "Suppressed", "Confidentiel"),
                (2, "F", "Too unreliable", "Trop peu fiable"),
                (3, "..", "Not available", "Non disponible")]

# frequency code -> year step (the YearStarts codes of graft.cube.RefDates)
FREQ_YEARS = {12: 1, 13: 2, 14: 3, 18: 1}

GEO_MISSING_PER_MILLE = 50
NULL_VALUE_PER_MILLE = 30

ZIP_TIME = (2020, 1, 1, 0, 0, 0)


def connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in ("customer", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def h(seed, salt, *cols):
    """Seeded hash bucket in [0, 1000)."""
    return f"(hash({int(seed)}, '{salt}', {', '.join(cols)}) % 1000)"


def _dims(spec):
    """Non-geo dimensions of a product, in position order."""
    out = []
    if "brand" in spec["dims"]:
        out.append(("Brand", "Marque", "brand"))
    if "size" in spec["dims"]:
        out.append(("Size", "Taille", "size"))
    out.append(("Estimate", "Estimation", "estimate"))
    return out


def _write(path, text):
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def stage_lookups(con, stage, seed):
    """Lookup files shared by every product of a stage."""
    geo = con.execute(f"""
        SELECT dguid, level FROM (
          SELECT '2021' || level || lpad(c_custkey::VARCHAR, 6, '0') AS dguid,
                 level, c_custkey
          FROM (SELECT c_custkey,
                       list_extract({LEVELS!r}::VARCHAR[],
                         (hash(c_mktsegment) % 5)::INT + 1) AS level
                FROM customer))
        WHERE {h(seed, 'geo', 'c_custkey')} >= {GEO_MISSING_PER_MILLE}
        ORDER BY dguid""").fetchall()
    _write(os.path.join(stage, "geography_reference.csv"),
           "GeographyReferenceId,GeographicLevelId\n" +
           "".join(f"{d},{l}\n" for d, l in geo))
    _write(os.path.join(stage, "null_reasons.csv"),
           "NullReasonId,Symbol,Description_EN,Description_FR\n" +
           "".join(f"{i},{s},{en},{fr}\n" for i, s, en, fr in NULL_REASONS))
    _write(os.path.join(stage, "geographic_level.csv"),
           "GeographicLevelId,LevelName_EN,LevelName_FR\n" +
           "".join(f"{k},{v},{v} (fr)\n" for k, v in sorted(LEVEL_NAMES.items())))
    _write(os.path.join(stage, "code_sets.json"), json.dumps({
        "status": "SUCCESS", "object": {
            "uom": [{"memberUomCode": k, "memberUomEn": en, "memberUomFr": fr}
                    for k, (en, fr) in sorted(UOMS.items())],
            "subject": [
                {"subjectCode": "98", "subjectEn": "Trade", "subjectFr": "Commerce"},
                {"subjectCode": "9810", "subjectEn": "Trade/Orders",
                 "subjectFr": "Commerce/Commandes"}]}}, indent=1))
    _write(os.path.join(stage, "product_defaults.json"), json.dumps({
        "default": {"default_breaks_algorithm_id": 1, "default_breaks": "natural",
                    "primary_chart_type_id": 1, "color_to": "#FFFFFF",
                    "color_from": "#000000", "related_chart_type_id": 2}}, indent=1))


def stage_merge_config(stage, groups):
    """products_to_merge.json: master pid -> sibling pids."""
    _write(os.path.join(stage, "products_to_merge.json"), json.dumps(
        {str(m): {"linked_tables": [str(s) for s in sibs]}
         for m, sibs in sorted(groups.items())}, indent=1))


def stage_product(con, stage, seed, spec):
    """Stage one product. spec keys: pid, per_mille (lineitem sample),
    dims (subset of {"brand", "size"}), estimates (1-3), freq (code),
    salt (sample salt; siblings of a group share dims but not rows).
    Returns the number of observations staged."""
    pid = spec["pid"]
    step = FREQ_YEARS[spec["freq"]]
    n_est = spec["estimates"]
    dims = _dims(spec)
    lo, hi = con.execute(
        "SELECT min(o_orderdate), max(o_orderdate) FROM orders").fetchone()
    years = list(range(lo.year if (lo.month, lo.day) == (1, 1) else lo.year + 1,
                       hi.year + 1, step))
    first = years[0]

    brands = [r[0] for r in con.execute(
        "SELECT DISTINCT p_brand FROM part ORDER BY 1").fetchall()]
    sizes = [r[0] for r in con.execute(
        "SELECT DISTINCT p_size FROM part ORDER BY 1").fetchall()]
    members = {
        "brand": [(i + 1, b, b) for i, b in enumerate(brands)],
        "size": [(i + 1, f"Size {s}", f"Taille {s}") for i, s in enumerate(sizes)],
        "estimate": [(i + 1, en, fr) for i, (en, fr, _, _) in enumerate(ESTIMATES[:n_est])],
    }
    brand_id = "list_position(%r::VARCHAR[], p_brand)" % (brands,)
    size_id = "list_position(%r::INT[], p_size)" % (sizes,)
    key_cols = {"brand": brand_id, "size": size_id}
    coord_parts = [f"{key_cols[k]}::VARCHAR" for _, _, k in dims if k != "estimate"]

    salt = spec.get("salt", str(pid))
    base = f"""
        SELECT '2021' || list_extract({LEVELS!r}::VARCHAR[],
                 (hash(c_mktsegment) % 5)::INT + 1)
                 || lpad(c_custkey::VARCHAR, 6, '0') AS dguid,
               c_custkey AS geo_member,
               {" || '.' || ".join(coord_parts) if coord_parts else "''"} AS coord,
               ({first} + ((year(o_orderdate) - {first}) // {step}) * {step})::VARCHAR
                 AS ref_date,
               l_quantity, l_extendedprice
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN part ON l_partkey = p_partkey
        WHERE {h(seed, salt, 'l_orderkey', 'l_linenumber')} < {spec['per_mille']}
          AND year(o_orderdate) >= {first}"""
    per_est = [
        f"""SELECT dguid, geo_member, coord || '.{i + 1}' AS coord, ref_date,
                   {agg} AS value, '{ESTIMATES[i][0]}' AS est, {ESTIMATES[i][2]} AS uom_id
            FROM base GROUP BY dguid, geo_member, coord, ref_date"""
        for i, (_, _, _, agg) in enumerate(ESTIMATES[:n_est])]
    nulled = h(seed, "null" + salt, "dguid", "coord", "ref_date")
    sym = h(seed, "sym" + salt, "dguid", "coord", "ref_date")
    dim_cols = []
    for name_en, _, k in dims:
        if k == "estimate":
            dim_cols.append("est")
        else:
            idx = [kk for _, _, kk in dims].index(k) + 1
            dim_cols.append(f"list_extract(%r::VARCHAR[], "
                            f"split_part(coord, '.', {idx})::INT)"
                            % ([m[1] for m in members[k]],))
    sql = f"""
        WITH base AS ({base}),
        obs AS ({" UNION ALL ".join(per_est)})
        SELECT ref_date AS REF_DATE, dguid AS DGUID,
               CASE WHEN uom_id = 81 THEN 'Dollars' ELSE 'Number' END AS UOM,
               uom_id AS UOM_ID,
               'v' || (hash(dguid, coord) % 1000000000)::VARCHAR AS VECTOR,
               geo_member::VARCHAR || '.' || coord AS COORDINATE,
               CASE WHEN {nulled} < {NULL_VALUE_PER_MILLE}
                    THEN list_extract(['x', 'F', '..'], ({sym} % 3)::INT + 1) END AS STATUS,
               CASE WHEN {nulled} < {NULL_VALUE_PER_MILLE}
                    THEN list_extract(['x', 'F', '..'], ({sym} % 3)::INT + 1) END AS SYMBOL,
               CASE WHEN {nulled} < {NULL_VALUE_PER_MILLE} THEN NULL ELSE value END AS VALUE,
               {", ".join(f'{c} AS "{d[0]}"' for c, d in zip(dim_cols, dims))}
        FROM obs
        ORDER BY DGUID, COORDINATE, REF_DATE"""
    csv_path = os.path.join(stage, f"{pid}.csv")
    con.execute(f"COPY ({sql}) TO '{csv_path}' (HEADER, DELIMITER ',')")
    n_rows = con.execute(f"SELECT count(*) FROM read_csv('{csv_path}', header=true, "
                         f"all_varchar=true)").fetchone()[0]
    geo_members = con.execute(f"""
        SELECT DISTINCT DGUID, split_part(COORDINATE, '.', 1)::INT AS m
        FROM read_csv('{csv_path}', header=true, all_varchar=true)
        ORDER BY m""").fetchall()
    info = zipfile.ZipInfo(f"{pid}.csv", date_time=ZIP_TIME)
    info.compress_type = zipfile.ZIP_DEFLATED
    with zipfile.ZipFile(os.path.join(stage, f"{pid}.zip"), "w") as z, \
            open(csv_path, "rb") as f:
        z.writestr(info, f.read(), compresslevel=1)
    os.remove(csv_path)

    def dim_json(pos, en, fr, has_uom, mems):
        return {"dimensionPositionId": pos, "dimensionNameEn": en,
                "dimensionNameFr": fr, "hasUom": has_uom,
                "member": [{"memberId": mid, "memberNameEn": men,
                            "memberNameFr": mfr, "memberUomCode": uom}
                           for mid, men, mfr, uom in mems]}
    dimensions = [dim_json(1, "Geography", "Géographie", False,
                           [(m, d, d, None) for d, m in geo_members])]
    for pos, (en, fr, k) in enumerate(dims, start=2):
        if k == "estimate":
            mems = [(i, men, mfr, ESTIMATES[i - 1][2]) for i, men, mfr in members[k]]
        else:
            mems = [(i, men, mfr, None) for i, men, mfr in members[k]]
        dimensions.append(dim_json(pos, en, fr, k == "estimate", mems))
    meta = [{"status": "SUCCESS", "object": {
        "productId": pid,
        "cubeTitleEn": f"Generated orders cube {pid}",
        "cubeTitleFr": f"Cube de commandes généré {pid}",
        "cubeStartDate": f"{first}-01-01",
        "cubeEndDate": hi.date().isoformat(),
        "releaseTime": "2022-03-01 08:30:00",
        "frequencyCode": spec["freq"],
        "surveyCode": ["5000"],
        "subjectCode": ["9810"],
        "dimension": dimensions}}]
    _write(os.path.join(stage, f"{pid}-meta.json"), json.dumps(meta, ensure_ascii=False))
    return n_rows


def main(argv):
    """CLI: gen_cube.py <sf_dir> <stage_dir> <seed> <products.json>

    products.json: {"products": [spec, ...], "merge": {"master": [siblings]}}
    """
    sf_dir, stage, seed, spec_file = argv
    spec = json.load(open(spec_file))
    os.makedirs(stage, exist_ok=True)
    con = connect(sf_dir)
    stage_lookups(con, stage, int(seed))
    for p in spec["products"]:
        stage_product(con, stage, int(seed), p)
    stage_merge_config(stage, {int(m): s for m, s in spec.get("merge", {}).items()})


if __name__ == "__main__":
    import sys
    main(sys.argv[1:])
