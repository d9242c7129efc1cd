"""Generate the pairwise_verify oracle fixture.

difflib.SequenceMatcher is not SQL-expressible, but its per-pair matching-
block overlap is a pure function of the two candidate texts — so the
DuckDB oracle for `pairwise_verify` joins a precomputed parquet fixture of
(sha256(text1), sha256(text2), len1, len2, overlap) and keeps every piece
of classifier arithmetic (distance formula, ppm floor, the 0.5
max_title_diff threshold — reference code/3_update_duplicateIDs.py:132-137
and configs.json:68) in SQL. Keying by text SHA (not doc id) means the
fixture can only ever match the exact candidate texts it was built from.

Candidate pairs are enumerated with the same cluster SQL the oracle uses
(the recursive-CTE connected components over exact-Jaccard edges), run
here in DuckDB directly against the sf parquet — no Spark needed. Rows are
sorted and deduped, so the fixture bytes are deterministic.

Usage: python tools/make_pairverify_fixture.py [sf_dir ...]
Defaults to sf0.001 + sf0.01 + sf0.1 (the pytest, driver-correctness and
bench scales), so ``tools/check_oracles.py`` holds at each of them.
"""

from __future__ import annotations

import hashlib
import os
import sys
from difflib import SequenceMatcher

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_SF_DIRS = [
    "/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"
]
OUT = os.path.join(REPO, "fixtures", "pairverify_overlaps.parquet")


def candidate_pairs(sf_dir: str) -> list[tuple[str, str]]:
    """(text1, text2) per within-cluster candidate pair, id1 < id2 — the
    exact pair set q_pairwise_verify scores at this sf."""
    import __spark_entry__ as em

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    pq_path = os.path.join(sf_dir, "documents.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq_path}')")
    sql = f"""
    WITH clusters AS ({em._CC}),
    multi AS (
      SELECT component_id FROM clusters GROUP BY component_id HAVING count(*) > 1
    ),
    docs AS (
      SELECT c.component_id AS cluster_id, c.doc_id, d.text
      FROM clusters c
      JOIN multi m ON c.component_id = m.component_id
      JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT a.text, b.text
    FROM docs a JOIN docs b
      ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id
    """
    return [(t1, t2) for t1, t2 in con.execute(sql).fetchall()]


def main() -> None:
    sf_dirs = sys.argv[1:] or DEFAULT_SF_DIRS
    rows = {}
    for sf_dir in sf_dirs:
        for t1, t2 in candidate_pairs(sf_dir):
            sha1 = hashlib.sha256(t1.encode()).hexdigest()
            sha2 = hashlib.sha256(t2.encode()).hexdigest()
            if (sha1, sha2) in rows:
                continue
            a, b = t1.lower(), t2.lower()
            overlap = sum(
                bl.size for bl in SequenceMatcher(None, a, b).get_matching_blocks()
            )
            rows[(sha1, sha2)] = (sha1, sha2, len(a), len(b), overlap)
    ordered = [rows[k] for k in sorted(rows)]
    table = pa.table(
        {
            "sha1": pa.array([r[0] for r in ordered], pa.string()),
            "sha2": pa.array([r[1] for r in ordered], pa.string()),
            "len1": pa.array([r[2] for r in ordered], pa.int64()),
            "len2": pa.array([r[3] for r in ordered], pa.int64()),
            "overlap": pa.array([r[4] for r in ordered], pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    pq.write_table(table, OUT, compression="snappy")
    print(f"wrote {table.num_rows} pair rows -> {OUT}")


if __name__ == "__main__":
    main()
