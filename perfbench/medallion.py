"""``medallion_batch``: the reference pipeline end to end, one pass at a time.

Each pass runs the seeded corpus through ``ingest_folder`` → ``bronze_flow``
→ ``silver_flow`` → ``gold_flow`` → ``analysis_chain`` (drained by an
all-column hash) into fresh directories. Outside the timed region every
pass's silver tables and gold marts are checked against an independent
recomputation: the source CSVs parsed by Python's ``csv`` module and
typed, joined and aggregated in DuckDB.
"""

from __future__ import annotations

import csv
import math
import os

import duckdb
import pyarrow as pa

from gen_corpus import generate_corpus
from harness import Context, Op, dir_bytes, now

NAME = "medallion_batch"
SCALE = 1000  # bands; 5x albums, 25x reviews (~3 MB of CSV)
WARMUP_SCALE = 40
MIN_PASSES = 2  # every run measures at least this many passes
NOMINAL_OPS = MIN_PASSES


def setup(ctx: Context, rep: int) -> dict:
    src = ctx.fresh_dir(f"corpus{rep}")
    info = generate_corpus(src, ctx.seed, SCALE)
    return {"src": src, "input_bytes": info["bytes"], "passes": []}


def discard(ctx: Context, state: dict) -> None:
    import shutil

    shutil.rmtree(state["src"], ignore_errors=True)


def _run_pass(ctx: Context, src: str, out: str, op_id: str) -> dict:
    from pyspark.sql import functions as F

    from deathmetal_datalake_spark.flows.analysis import analysis_chain
    from deathmetal_datalake_spark.flows.bronze import bronze_flow
    from deathmetal_datalake_spark.flows.gold import gold_flow
    from deathmetal_datalake_spark.flows.ingest import ingest_folder
    from deathmetal_datalake_spark.flows.silver import silver_flow

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("medallion.pass", op=op_id):
        with tr.span("ingest"):
            chunks = ingest_folder(src, os.path.join(out, "landing"))
        with tr.span("bronze"):
            bronze = bronze_flow(spark, os.path.join(out, "landing"), os.path.join(out, "bronze"))
        with tr.span("silver"):
            silver = silver_flow(spark, bronze, os.path.join(out, "silver"))
        with tr.span("gold"):
            gold = gold_flow(spark, silver, os.path.join(out, "gold"))
        with tr.span("analysis"):
            df = analysis_chain(*(spark.read.parquet(silver[t]) for t in ("albums", "bands", "reviews")))
            row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*df.columns)).alias("h")).first()
    return {"dir": out, "chunks": chunks, "silver": silver, "gold": gold,
            "analysis_rows": row["n"], "analysis_hash": row["h"]}


def warmup(ctx: Context, state: dict) -> None:
    src = ctx.fresh_dir("warm-corpus")
    generate_corpus(src, ctx.seed + 1, WARMUP_SCALE)
    _run_pass(ctx, src, ctx.fresh_dir("warm-pass"), "warmup")


def measure(ctx: Context, state: dict) -> None:
    deadline = now() + ctx.seconds
    n = 0
    while now() < deadline or n < MIN_PASSES:
        out = ctx.fresh_dir(f"pass{n}")
        t0 = now()
        result = _run_pass(ctx, state["src"], out, f"pass{n}")
        ctx.record(Op("pass", t0, now(), info=result))
        n += 1


# ---- independent recomputation ---------------------------------------------


def _normalize_header(names: list[str]) -> list[str]:
    seen: dict[str, int] = {}
    out = []
    for raw in names:
        base = raw.strip().lower().replace(" ", "_")
        seen[base] = seen.get(base, 0) + 1
        out.append(base if seen[base] == 1 else f"{base}_{seen[base]}")
    return out


def _load_csv(con, path: str, table: str) -> None:
    with open(path, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    cols = _normalize_header(rows[0])
    data = {c: pa.array([(r[i] if r[i] != "" else None) for r in rows[1:]], pa.string())
            for i, c in enumerate(cols)}
    con.register(f"{table}_arrow", pa.table(data))
    con.execute(f"CREATE TABLE {table}_raw AS SELECT DISTINCT * FROM {table}_arrow")


_SILVER_SQL = {
    "albums": """SELECT TRY_CAST(id AS BIGINT) AS id, title, TRY_CAST(band AS BIGINT) AS band,
                 TRY_CAST(year AS BIGINT) AS year FROM albums_raw""",
    "bands": r"""SELECT TRY_CAST(id AS BIGINT) AS id, name, country, genre, theme, status,
                 TRY_CAST(formed_in AS BIGINT) AS formed_in, active,
                 TRY_CAST(NULLIF(regexp_extract(active, '(\d{4})', 1), '') AS BIGINT) AS start_year
                 FROM bands_raw""",
    "reviews": """SELECT TRY_CAST(id AS BIGINT) AS id, TRY_CAST(album AS BIGINT) AS album, title,
                  TRY_CAST(score AS DOUBLE) AS score, replace(content, '|', ',') AS content
                  FROM reviews_raw WHERE NOT contains(id, 'id')""",
    "music_catalog": """SELECT a.id AS album_id, a.title AS album_title, a.year, a.band AS band_id,
                        b.name AS band_name, b.country, b.genre, b.theme
                        FROM albums a LEFT JOIN bands b ON a.band = b.id""",
    "album_reviews": """SELECT r.id AS review_id, r.album AS album_id, a.title AS album_title,
                        r.score, r.content FROM reviews r LEFT JOIN albums a ON r.album = a.id""",
}

_SCORES = """SELECT m.band_id, m.band_name, m.country, COUNT(*) AS review_count,
             AVG(r.score) AS avg_score, MIN(r.score) AS min_score, MAX(r.score) AS max_score,
             STDDEV_SAMP(r.score) AS std_score
             FROM album_reviews r LEFT JOIN music_catalog m ON r.album_id = m.album_id
             GROUP BY ALL"""

_GOLD_SQL = {
    "top10_by_country": """SELECT country, band_id, band_name, review_count, avg_score FROM (
        SELECT *, row_number() OVER (PARTITION BY country
                  ORDER BY review_count DESC, band_id ASC NULLS FIRST) AS rn
        FROM (SELECT m.country, m.band_id, m.band_name, COUNT(*) AS review_count,
                     AVG(r.score) AS avg_score
              FROM album_reviews r LEFT JOIN music_catalog m ON r.album_id = m.album_id
              GROUP BY ALL)) WHERE rn <= 10""",
    "band_avg_scores": _SCORES,
    "brazilian_bands": f"""SELECT *, lower(trim(country)) AS country_normalized FROM ({_SCORES})
                          WHERE lower(trim(country)) IN ('brazil', 'brasil')""",
    "band_album_counts": """SELECT band_id, band_name, country, COUNT(*) AS album_count
                            FROM music_catalog GROUP BY ALL""",
    "band_score_ranking": f"""SELECT * FROM ({_SCORES})
                             ORDER BY avg_score DESC, band_id ASC NULLS FIRST LIMIT 100""",
}

_ANALYSIS_COUNT = """
WITH ba AS (SELECT a.id AS album_id, b.name, b.country FROM albums a LEFT JOIN bands b ON a.band = b.id),
     ar AS (SELECT a.id AS album_id, r.title AS title_review
            FROM reviews r RIGHT JOIN albums a ON r.album = a.id)
SELECT COUNT(*) FROM ba LEFT JOIN ar ON ba.album_id = ar.album_id
WHERE ba.name != 'None' AND ar.title_review != 'None'
"""


def _expected(src: str) -> tuple[dict[str, tuple[list[str], list[tuple]]], int]:
    con = duckdb.connect()
    for ds in ("albums", "bands", "reviews"):
        _load_csv(con, os.path.join(src, f"{ds}.csv"), ds)
    out = {}
    for name, sql in _SILVER_SQL.items():
        con.execute(f"CREATE TABLE {name} AS {sql}")
        out[name] = _fetch(con, f"SELECT * FROM {name}")
    for name, sql in _GOLD_SQL.items():
        out[name] = _fetch(con, sql)
    analysis_rows = con.execute(_ANALYSIS_COUNT).fetchone()[0]
    con.close()
    return out, analysis_rows


def _fetch(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _canon(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rows]

    def key(r):
        return tuple((v is None, "" if isinstance(v, float) or v is None else str(v)) for v in r)

    return [cols[i] for i in order], sorted(rows, key=key)


def tables_match(expected: tuple[list[str], list[tuple]], got: tuple[list[str], list[tuple]]) -> str | None:
    """``None`` when equal up to row order, column order and 1e-9 relative
    float error; otherwise a one-line reason."""
    ec, er = _canon(*expected)
    gc, gr = _canon(*got)
    if ec != gc:
        return f"columns {gc} != {ec}"
    if len(er) != len(gr):
        return f"{len(gr)} rows != {len(er)}"
    for a, b in zip(er, gr):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return f"{y!r} != {x!r}"
            elif x != y:
                return f"{y!r} != {x!r}"
    return None


def ranking_matches(scores: tuple[list[str], list[tuple]], got: tuple[list[str], list[tuple]],
                    n: int = 100) -> str | None:
    """``band_score_ranking`` is a top-``n`` by a float average. Two bands
    whose averages tie exactly (699.2/12 = 874/15) can land on either side
    of the cut depending on the last bit of each engine's summation, so the
    check accepts any valid top-``n``: the rows are ``n`` rows of
    ``band_avg_scores``, and no band left out averages more than the
    lowest one kept (up to float error)."""
    cols, rows = got
    if len(rows) != min(n, len(scores[1])):
        return f"{len(rows)} rows != {n}"
    key = cols.index("band_id")
    chosen = {r[key] for r in rows}
    by_band = {r[scores[0].index("band_id")]: r for r in scores[1]}
    why = tables_match((scores[0], [by_band[b] for b in chosen if b in by_band]), got)
    if why:
        return why
    avg = scores[0].index("avg_score")
    cut = min(r[cols.index("avg_score")] for r in rows)
    left_out = [r[avg] for b, r in by_band.items() if b not in chosen]
    if left_out and max(left_out) > cut + 1e-9 * abs(cut):
        return f"a band averaging {max(left_out)!r} is left out while {cut!r} is kept"
    return None


def verify(ctx: Context, state: dict) -> list[str]:
    expected, analysis_rows = _expected(state["src"])
    problems = []
    con = duckdb.connect()
    hashes = {op.info["analysis_hash"] for op in ctx.ops}
    for op in ctx.ops:
        res = op.info
        for name, path in {**res["silver"], **res["gold"]}.items():
            got = _fetch(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
            if name == "band_score_ranking":
                why = ranking_matches(expected["band_avg_scores"], got)
            else:
                why = tables_match(expected[name], got)
            if why:
                op.ok = False
                problems.append(f"{op.info['dir']}: {name}: {why}")
        if res["analysis_rows"] != analysis_rows or len(hashes) != 1:
            op.ok = False
            problems.append(f"{op.info['dir']}: analysis rows {res['analysis_rows']} != {analysis_rows}")
    con.close()
    return problems


# ---- reporting ---------------------------------------------------------------


def written_bytes(ops: list[Op]) -> dict[str, tuple[int, int]]:
    """Bytes and files each layer wrote, summed over the measured passes."""
    out = {layer: [0, 0] for layer in ("landing", "bronze", "silver", "gold")}
    for op in ops:
        for layer in out:
            b, f = dir_bytes(os.path.join(op.info["dir"], layer))
            out[layer][0] += b
            out[layer][1] += f
    return {k: (v[0], v[1]) for k, v in out.items()}


def report(ctx: Context, state: dict, ops: list[Op]) -> dict:
    total = sum(b for b, _ in written_bytes(ops).values())
    return {"bytes_written_per_input_byte": total / (state["input_bytes"] * len(ops))}


def layer_extra(ctx: Context, state: dict, ops: list[Op]) -> dict:
    n = len(ops)
    w = written_bytes(ops)
    chunks = [p for op in ops for paths in op.info["chunks"].values() for p in paths]
    return {
        "ingest.chunks": len(chunks) / n,
        "ingest.bytes": sum(os.path.getsize(p) for p in chunks) / n,
        "bronze.bytes_written": w["bronze"][0] / n,
        "bronze.files_written": w["bronze"][1] / n,
        "silver.bytes_written": w["silver"][0] / n,
        "analysis.rows_out": sum(op.info["analysis_rows"] for op in ops) / n,
        "medallion.bytes_written_per_input_byte": report(ctx, state, ops)["bytes_written_per_input_byte"],
    }
