"""Output checks for the query workloads, run outside the timed region.

Every query with a DuckDB oracle is compared on its canonical rows
(``builder_spark.canon``) with the oracle run over the same generated
parquet files. ``q_dedup_fuzzy`` has no oracle (LSH banding is not SQL);
its output must be sound — every pair it reports has that rounded
word-set Jaccard, recomputed here, and it is >= 0.4 — and complete on the
duplicates the generator plants, whose Jaccard is near 1.
"""

from __future__ import annotations

from builder_spark.canon import canon_rows, fetch_duckdb
from builder_spark.catalog import TABLES

_PLANTED = """
    SELECT least(a.doc_id, b.doc_id) AS id_a, greatest(a.doc_id, b.doc_id) AS id_b
    FROM documents a JOIN documents b
      ON a.doc_id <> b.doc_id AND (a.text = b.text || ' dup' OR (a.text = b.text AND a.doc_id < b.doc_id))
"""


def duckdb_views(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_query(con, name: str, oracle: str | None, s_cols: list, s_rows: list) -> str | None:
    """None when the fetched Spark output is correct, else a one-line problem."""
    if oracle is None:
        return _check_fuzzy(con, s_cols, s_rows) if name == "q_dedup_fuzzy" else "no check"
    d_cols, d_rows = fetch_duckdb(con, oracle)
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != oracle {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"{len(s_rows)} rows != oracle {len(d_rows)}"
    cs, cd = canon_rows(s_cols, s_rows), canon_rows(d_cols, d_rows)
    if cs != cd:
        i = next(i for i, (a, b) in enumerate(zip(cs, cd)) if a != b)
        return f"row {i}: {cs[i]} != oracle {cd[i]}"
    return None


def _check_fuzzy(con, cols: list[str], rows: list[tuple]) -> str | None:
    ia, ib, ij = (cols.index(c) for c in ("id_a", "id_b", "jaccard"))
    got = {(int(r[ia]), int(r[ib])): float(r[ij]) for r in rows}
    if len(got) != len(rows):
        return "duplicate pairs in output"
    words = {int(i): set(t.split(" ")) for i, t in con.execute("SELECT doc_id, text FROM documents").fetchall()}
    for (a, b), j in got.items():
        wa, wb = words[a], words[b]
        exact = len(wa & wb) / len(wa | wb)
        # the query rounds to 4 places, then keeps scores >= 0.4
        if a >= b or j < 0.4 or abs(j - exact) > 5e-5 + 1e-12:
            return f"pair {(a, b)} jaccard {j} but exact {exact:.6f}"
    missing = [p for p in con.execute(_PLANTED).fetchall() if tuple(p) not in got]
    if missing:
        return f"{len(missing)} planted duplicate pairs missing, e.g. {missing[0]}"
    return None
