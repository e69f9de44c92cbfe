"""Output checks, run outside the timed region.

They read what the program wrote with DuckDB (and the input XML with the
standard library), never through the program's own readers, and compare it
with the generator's expected answers. Each returns a list of problems;
an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import xml.etree.ElementTree as ET

import duckdb

NEAR_MERGED_MIN = 0.98  # MinHash-LSH recall floor for one-token edits

# The scrub the curated text must show, fixed here rather than read from
# the program, so that a change to the program's patterns shows as a
# mismatch: emails, URLs and digit runs of six or more.
PII_REFERENCE = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b\d{6,}\b", "<NUM>"),
)
# What the curate generator plants as PII; none of it may survive.
PLANTED_PII = re.compile(r"@example\.com|https://|\d{6,}")


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def committed_tables(root: str) -> dict[str, list[str]]:
    """Table name → data dirs of the version set the run manifest commits."""
    with open(os.path.join(root, "_RUN_MANIFEST")) as fh:
        run = json.load(fh)["tables"]
    out = {}
    for name, vid in run.items():
        with open(os.path.join(root, name, "_manifests", f"{vid}.json")) as fh:
            m = json.load(fh)
        out[name] = [os.path.join(root, name, d) for d in m["data_dirs"]]
    return out


def _scan(*dirs: str) -> str:
    """DuckDB table expression over every Parquet file under ``dirs``."""
    files = sorted(f for d in dirs for f in glob.glob(
        os.path.join(d, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet files under {dirs}")
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def _check_star(con, fact: str, dims: dict[str, str], expected: dict) -> list[str]:
    problems = []
    n = con.execute(f"SELECT count(*) FROM {fact}").fetchone()[0]
    if n != expected["fact_rows"]:
        problems.append(f"fact rows {n} != expected {expected['fact_rows']}")
    for col, want in expected["dimensions"].items():
        if col not in dims:
            problems.append(f"dimension {col} missing (have {sorted(dims)})")
            continue
        got = sorted(r[0] for r in con.execute(
            f'SELECT "{col}" FROM {dims[col]}').fetchall())
        if got != want:
            problems.append(f"dimension {col} values {got} != {want}")
    for col, dim in dims.items():
        key = f'"{col}_key"'
        dangling, nulls = con.execute(
            f"SELECT count(*) FILTER (WHERE {key} IS NOT NULL AND {key} NOT IN"
            f" (SELECT {key} FROM {dim})), count(*) FILTER (WHERE {key} IS NULL)"
            f" FROM {fact}").fetchone()
        if dangling:
            problems.append(f"{dangling} fact rows have a {col}_key with no "
                            "dimension row")
        if nulls and col in expected["dimensions"]:
            problems.append(f"{nulls} fact rows have a NULL {col}_key")
    return problems


def check_etl(root: str, expected: dict) -> list[str]:
    """The star the run manifest at ``root`` commits, and the error
    report beside it."""
    con = _con()
    tables = committed_tables(root)
    fact = _scan(*tables["fact_main"])
    dims = {n[len("dim_"):]: _scan(*d) for n, d in tables.items()
            if n.startswith("dim_")}
    problems = _check_star(con, fact, dims, expected)
    per_file = dict(con.execute(
        f"SELECT source_file_name, count(*) FROM {fact} GROUP BY 1").fetchall())
    if per_file != expected["records_per_valid_file"]:
        diff = sorted(set(per_file.items()) ^ set(
            expected["records_per_valid_file"].items()))[:5]
        problems.append(f"records per file differ, e.g. {diff}")
    err_csv = glob.glob(os.path.join(root, "error_summary.csv", "*.csv"))
    reported = set()
    if err_csv:
        reported = {
            os.path.basename(r[0]) for r in con.execute(
                "SELECT source_file_path FROM read_csv(["
                + ", ".join(f"'{f}'" for f in err_csv)
                + "], header=true, all_varchar=true)").fetchall()
        }
    if reported != set(expected["invalid_files"]):
        problems.append(f"error_summary.csv lists {sorted(reported)}, "
                        f"expected {expected['invalid_files']}")
    return problems


def oracle(root: str, shape: str, p: dict) -> tuple[list, bool]:
    """DuckDB's answer for one query, and whether row order matters."""
    from xml_to_parquet_spark.operators.aggregation import davg_sql, dsum_sql

    t = {n: _scan(*d) for n, d in committed_tables(root).items()}
    fact = t["fact_main"]
    if shape in ("fk_rollup", "sql_rollup"):
        sql = (
            "SELECT r.region, c.channel, "
            f"{dsum_sql('f.price', 'price_sum')}, "
            f"{davg_sql('f.price', 'price_avg')}, "
            "MIN(f.price), MAX(f.price), COUNT(f.price) "
            f"FROM {fact} f "
            f"LEFT JOIN {t['dim_region']} r ON f.region_key = r.region_key "
            f"LEFT JOIN {t['dim_channel']} c ON f.channel_key = c.channel_key "
            f"WHERE f.quantity >= {p['min_qty']} GROUP BY r.region, c.channel"
        )
    elif shape == "distinct":
        sql = f"SELECT DISTINCT {p['dim']}_key FROM {fact}"
    elif shape == "topk":
        sql = (f"SELECT record_id, price FROM {fact} "
               f"ORDER BY price DESC, record_id DESC LIMIT {p['k']}")
    elif shape == "point_lookup":
        sql = (f"SELECT record_id, price, quantity FROM {fact} "
               f"WHERE record_id = '{p['record_id']}'")
    else:
        aggs = []
        for m in ("price", "quantity"):
            aggs += [dsum_sql(m), davg_sql(m), f"MIN({m})", f"MAX({m})",
                     f"COUNT({m})"]
        key = f"{p['dim']}_key"
        sql = f"SELECT {key}, {', '.join(aggs)} FROM {fact} GROUP BY {key}"
    return [tuple(r) for r in _con().execute(sql).fetchall()], shape == "topk"


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (a is None and b is None) or (
            a is not None and b is not None
            and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9))
    return a == b


def _rows_equal(got: list, want: list, ordered: bool) -> bool:
    if len(got) != len(want):
        return False
    if not ordered:
        key = lambda r: tuple((v is None, str(v)) for v in r)  # noqa: E731
        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


def check_query(root: str, shape: str, p: dict, got: list) -> list[str]:
    want, ordered = oracle(root, shape, p)
    if _rows_equal(got, want, ordered):
        return []
    return [f"query {shape} {p}: {len(got)} rows differ from DuckDB's "
            f"{len(want)} (first: {got[:2]} vs {want[:2]})"]


def read_input_docs(corpus: str) -> dict[str, str]:
    docs = {}
    for path in sorted(glob.glob(os.path.join(corpus, "input", "*.xml"))):
        for rec in ET.parse(path).getroot():
            docs[rec.get("id")] = rec.findtext("text")
    return docs


def scrub(text: str) -> str:
    for pat, repl in PII_REFERENCE:
        text = re.sub(pat, repl, text)
    return text


def check_curate(out: str, corpus: str, expected: dict) -> list[str]:
    pairs = _con().execute(f"SELECT doc_id, text FROM {_scan(out)}").fetchall()
    rows = dict(pairs)
    inputs = read_input_docs(corpus)
    problems = []
    if len(pairs) != len(rows):
        problems.append(f"{len(pairs)} survivor rows for {len(rows)} "
                        "distinct doc_ids")
    leaked = [d for d, t in rows.items() if PLANTED_PII.search(t or "")]
    if leaked:
        problems.append(f"{len(leaked)} survivors still hold planted PII, "
                        f"e.g. {leaked[:3]}")
    if len(inputs) != expected["docs"]:
        problems.append(f"read {len(inputs)} input docs, generated "
                        f"{expected['docs']}")
    wrong = [d for d, t in rows.items() if t != scrub(inputs.get(d, ""))]
    if wrong:
        problems.append(f"{len(wrong)} survivors' text is not their scrubbed "
                        f"input, e.g. {wrong[:3]}")
    kept_dropped = [d for d in expected["dropped"] if d in rows]
    if kept_dropped:
        problems.append(f"short/spam docs survived: {kept_dropped[:5]}")
    planted = set(expected["dropped"])
    for kind in ("exact_pairs", "near_pairs"):
        both = none = 0
        for a, b in expected[kind]:
            planted.update((a, b))
            n = (a in rows) + (b in rows)
            both += n == 2
            none += n == 0
        pairs = len(expected[kind])
        if none:
            problems.append(f"{none} {kind} lost both members")
        if kind == "exact_pairs" and both:
            problems.append(f"{both} exact copies were not removed")
        if kind == "near_pairs" and both > (1 - NEAR_MERGED_MIN) * pairs:
            problems.append(f"{both} of {pairs} near copies not merged")
    lost = [d for d in inputs if d not in planted and d not in rows]
    if lost:
        problems.append(f"{len(lost)} unique documents were removed, "
                        f"e.g. {lost[:3]}")
    return problems
