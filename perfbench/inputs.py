"""Seeded benchmark inputs and their reference results.

Everything here derives from the ``--seed`` argument and fixed
constants: the same seed gives byte-identical tables and identical
references.  The program under test only ever sees the generated
parquet files.

* ``images_table`` cycles an oracle-validated pool from
  ``tools/make_fixtures`` into the bench mix (every cascade reason,
  decode errors, a 25 % hot pHash bucket); the seed picks the medium
  bucket, the row order and the ids.  The pool rows carry the oracle's
  labels, which become the keep/drop reference.
* ``documents_table`` is a seeded corpus with the schema of the
  ``documents`` table the corpus operators read (a 30-word vocabulary,
  10..100 words per doc, 5 % near-duplicates carrying a ``dup`` token).
* ``dedup_reference`` runs each operator's DuckDB twin from
  ``__spark_entry__.oracle_sql()`` over those documents and returns one
  digest per operator.
"""

from __future__ import annotations

import collections
import hashlib
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# Corpus dedup operators, each named as its oracle_sql() key.
DOC_OPS = [
    "trigram_jaccard_pairs",
    "substring_dup_spans",
    "winnow_fingerprints",
    "decontaminate",
    "neardup_components",
]


def _write_split(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files so a scan plans
    several input splits, as a real multi-file table would."""
    os.makedirs(out_dir, exist_ok=True)
    step = math.ceil(table.num_rows / n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i:03d}.parquet"))


def _pool() -> list[dict]:
    """The oracle-validated pool, drawn with the fixtures' own fixed seed.

    The pool holds few rows and one of them is the hot bucket, a quarter
    of every table, so a pool drawn per seed would make the work per row
    depend on the seed; the seed picks the medium bucket, order and ids."""
    from make_fixtures import build_pool

    return build_pool(variants_per_target=4)


def images_table(seed: int, n_rows: int, out_dir: str, n_files: int) -> pd.DataFrame:
    """Write the seeded images table under ``out_dir``; return the
    oracle reference ``(image_id, keep, caption_scrubbed, category)``."""
    from make_fixtures import _BLOCKS_TYPE, IMAGES_SCHEMA, assemble_tier

    rows = assemble_tier(_pool(), n_rows, seed=seed)
    ids = [f"img{seed:06d}{i:07d}" for i in range(n_rows)]
    table = pa.table(
        {
            "image_id": pa.array(ids, pa.string()),
            "bytes": pa.array([r["bytes"] for r in rows], pa.binary()),
            "w": pa.array([r["w"] for r in rows], pa.int32()),
            "h": pa.array([r["h"] for r in rows], pa.int32()),
            "fmt": pa.array([r["fmt"] for r in rows], pa.string()),
            "caption": pa.array([r["caption"] for r in rows], pa.string()),
            "phash": pa.array([r["phash"] for r in rows], pa.int64()),
            "blocks": pa.array(
                [[{"top": b[0], "left": b[1], "width": b[2], "height": b[3]}
                  for b in r["blocks"]] for r in rows],
                _BLOCKS_TYPE,
            ),
        },
        schema=IMAGES_SCHEMA,
    )
    _write_split(table, out_dir, n_files)
    return pd.DataFrame(
        {
            "image_id": ids,
            "keep": [bool(r["labels"]["keep"]) for r in rows],
            "caption_scrubbed": [r["labels"]["caption_scrubbed"] for r in rows],
            "category": [r["labels"]["category"] for r in rows],
        }
    )


def phash_table(seed: int, n_rows: int, out_dir: str, n_files: int) -> None:
    """``(image_id, phash)`` of a larger seeded images table, with the
    same 25 % hot bucket, for the salted pHash aggregation."""
    from make_fixtures import assemble_tier

    rows = assemble_tier(_pool(), n_rows, seed=seed)
    table = pa.table({
        "image_id": pa.array([f"img{seed:06d}{i:07d}" for i in range(n_rows)], pa.string()),
        "phash": pa.array([r["phash"] for r in rows], pa.int64()),
    })
    _write_split(table, out_dir, n_files)


def documents_table(seed: int, n_docs: int, sf_dir: str) -> str:
    """Write ``<sf_dir>/documents.parquet``; return its path."""
    rng = np.random.default_rng(np.random.PCG64((seed, 4242)))
    lengths = rng.integers(10, 101, size=n_docs)
    texts = [" ".join(rng.choice(VOCAB, size=int(n))) for n in lengths]
    # near-duplicates: a later doc re-uses an earlier doc's text plus a
    # marker token, so MinHash/Jaccard/CC have real clusters to find
    n_dup = n_docs // 20
    dst = rng.choice(np.arange(n_docs // 2, n_docs), size=n_dup, replace=False)
    src = rng.integers(0, n_docs // 2, size=n_dup)
    for d, s in zip(dst, src):
        texts[int(d)] = texts[int(s)] + " dup"
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(table, path)
    return path


def frame_digest(df: pd.DataFrame) -> str:
    """Order-independent digest of a result frame, normalized the way
    ``tests/test_oracle_parity.py`` compares Spark with DuckDB: columns
    by name, ints widened, rows sorted, doubles compared bit for bit."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256(",".join(df.columns).encode())
    h.update(str(len(df)).encode())
    for c in df.columns:
        h.update("\x1f".join(map(repr, df[c].tolist())).encode())
    return h.hexdigest()


def _pairs_path(work_dir: str, sf_dir: str) -> str:
    # the name build_minhash_pairs gives its output under OUT_DIR
    return os.path.join(work_dir, f"minhash_pairs_{os.path.basename(os.path.normpath(sf_dir))}.parquet")


def oracle_queries(work_dir: str, sf_dir: str) -> dict[str, str]:
    """The DuckDB twins of the dedup operators plus ``phash_winners``.

    ``oracle_sql()`` resolves sidecars for the fixed driver tables it
    was written for; they are stubbed out here, except the MinHash
    pairs sidecar that ``neardup_components`` reads, which
    ``dedup_reference`` rebuilds over the seeded corpus."""
    import __spark_entry__ as E

    saved = (E._nlp_sidecar, E._xxh_sidecars)
    E._nlp_sidecar = lambda _sf: "unused"
    E._xxh_sidecars = lambda _sf: collections.defaultdict(
        lambda: "unused", minhash_pairs=_pairs_path(work_dir, sf_dir)
    )
    try:
        sql = E.oracle_sql()
    finally:
        E._nlp_sidecar, E._xxh_sidecars = saved
    images_pq = os.path.join(E._fixture_dir(), "images.parquet")
    out = {op: sql[op] for op in DOC_OPS}
    out["phash_winners"] = sql["qf_dedup_winners"].replace(
        f"read_parquet('{images_pq}')", "images"
    )
    return out


def dedup_reference(sf_dir: str, images_dir: str, work_dir: str,
                    queries: dict[str, str]) -> dict[str, str]:
    """DuckDB digest per operator over the seeded inputs."""
    import duckdb
    import make_oracle_sidecars as S

    saved, S.OUT_DIR = S.OUT_DIR, work_dir
    try:
        S.build_minhash_pairs(sf_dir)  # pure-Python XXH64 MinHash twin
    finally:
        S.OUT_DIR = saved
    con = duckdb.connect()
    try:
        # bounded: the winnowing twin's lateral joins otherwise take
        # most of the machine's memory before DuckDB spills
        con.execute("SET memory_limit = '2GB'")
        con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb-tmp')}'")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(sf_dir, 'documents.parquet')}')"
        )
        con.execute(
            "CREATE VIEW images AS SELECT * FROM read_parquet("
            f"'{os.path.join(images_dir, '*.parquet')}')"
        )
        return {name: frame_digest(con.execute(q).df()) for name, q in queries.items()}
    finally:
        con.close()
