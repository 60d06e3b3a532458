"""Output checks shared by the runner and the digest pinning script.

Two kinds of check:

* ``rows_digest`` -- an order-insensitive digest of a query result, the
  form the corpus workloads compare against digests pinned from their
  DuckDB oracles (``oracle_digests.json``; those oracles take minutes, so
  they are not re-run per benchmark run).
* ``flagship_oracle`` -- the registered ``flagship_extract`` DuckDB oracle
  over the replicated documents the extraction workloads feed, restricted
  to a given doc_id set, as an Arrow table sorted like ``sorted_spans``.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.compute as pc

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
DIGESTS_PATH = os.path.join(HERE, "oracle_digests.json")
SPAN_COLS = ["doc_id", "ord", "kind", "text", "media_ref"]
# replica r of base doc d gets doc_id d + r * REPLICA_STRIDE (as bench.py)
REPLICA_STRIDE = 1_000_000


def _canon(v):
    if isinstance(v, float):
        # the crosscheck's float rule: 6 dp; + 0.0 folds -0.0 into 0.0
        return repr(round(v, 6) + 0.0)
    return repr(v)


def rows_digest(columns: list[str], rows) -> dict:
    """sha256 over the rows' canonical text, columns taken in name order
    and rows sorted, so neither column nor row order matters."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {
        "columns": [columns[i] for i in order],
        "rows": len(lines),
        "sha256": h.hexdigest(),
    }


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def duckdb_connect(sf_dir: str, replicas: int = 1):
    """DuckDB with the oracle views over ``sf_dir``; ``documents`` is the
    flat table replicated ``replicas`` times exactly as the extraction
    workloads replicate it."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    docs = os.path.join(sf_dir, "documents.parquet")
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT d.doc_id + r.range * {REPLICA_STRIDE} AS doc_id, "
        "d.text, d.lang, d.source, d.n_chars "
        f"FROM '{docs}' d, range({int(replicas)}) r"
    )
    emb = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.exists(emb):
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{emb}'")
    return con


def sorted_ids(table: pa.Table) -> pa.Array:
    """The ``doc_id`` column as a sorted string array."""
    ids = table.column("doc_id").combine_chunks().cast(pa.string())
    return ids.take(pc.sort_indices(ids))


def sorted_spans(table: pa.Table) -> pa.Table:
    """Span rows in a canonical schema and order for exact comparison."""
    table = table.select(SPAN_COLS).cast(
        pa.schema(
            [
                ("doc_id", pa.string()),
                ("ord", pa.int64()),
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
            ]
        )
    )
    return table.sort_by([("doc_id", "ascending"), ("ord", "ascending")])


def flagship_oracle(con, flagship_sql: str, doc_ids: pa.Table) -> pa.Table:
    """The flagship oracle's spans for the docs in ``doc_ids`` (one
    string column ``doc_id``)."""
    con.register("_committed", doc_ids)
    try:
        out = con.sql(
            f"SELECT * FROM ({flagship_sql}) o "
            "WHERE o.doc_id IN (SELECT doc_id FROM _committed)"
        ).arrow()
    finally:
        con.unregister("_committed")
    return sorted_spans(out)
