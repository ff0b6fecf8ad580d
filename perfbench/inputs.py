"""Seeded, cached benchmark inputs and their DuckDB oracle digests.

Every input is a function of (workload, size, seed) only. It is generated
once into ``<work>/inputs/<workload>-<size>-s<seed>/`` and reused by later
runs with the same key; generation and the oracle never count towards
``setup_s``. The content digest printed with every run is a sha256 over
the input files' bytes, so two runs that print the same digest read
byte-identical input.

The seed-free part of the KG corpus (the repo's generator has no seed)
is built once per size with Spark. Every seeded step after it, the
oracles and the oracle digests run in DuckDB, so a new seed costs no
Spark job in the still-cold JVM of a fresh run.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

#: one turn in this many has its sentence-final surfaces truncated
TRUNCATED_TURN_EVERY = 10
#: the typo conversations the linked oracle appends (``typos=True``)
TYPO_MIN_SURFACE_LEN = 6

#: documents vocabulary of the operator-suite testdata (30 words, near
#: uniform): a small vocabulary is what makes SimHash blocks large
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64

#: the three operator queries of near_dup_ann
ANN_QUERIES = ("near_dup_pipeline_docs", "simhash_pairs_docs", "lsh_topk_embeddings")
#: columns of the KG oracle rows (the linked-triples projection of edges)
KG_ORACLE_COLS = [
    "conv_id", "turn_idx", "chunk_pos", "item_pos",
    "subj", "pred", "obj", "subj_id", "obj_id",
]


def content_digest(root: Path, names: list[str]) -> str:
    """sha256 over the relative path and bytes of every file of the named
    inputs, in path order."""
    h = hashlib.sha256()
    for name in names:
        base = root / name
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


# --------------------------------------------------------------------------
# Order-independent output digests, computed the same way by both engines:
# the row count plus the sums of the two leading 32-bit words of each row's
# md5 over its columns (sorted by name) rendered as text, with doubles
# rendered as round(x * 1e9) (the repo's oracle-parity tolerance).
# --------------------------------------------------------------------------

_NULL = "∅"


def digest_exprs(df, cols, prefix: str = ""):
    """Spark aggregate expressions of the digest of ``df[cols]``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    rendered = []
    for name in sorted(cols):
        col = F.col(name)
        if isinstance(df.schema[name].dataType, (DoubleType, FloatType)):
            col = F.round(col.cast("double") * F.lit(1e9)).cast("long")
        rendered.append(F.coalesce(col.cast("string"), F.lit(_NULL)))
    md5 = F.md5(F.concat_ws("\x1f", *rendered))

    def word(start):
        return F.conv(F.substring(md5, start, 8), 16, 10).cast("long")

    return [
        F.count(F.lit(1)).alias(f"{prefix}rows"),
        F.coalesce(F.sum(word(1)), F.lit(0)).alias(f"{prefix}lo"),
        F.coalesce(F.sum(word(9)), F.lit(0)).alias(f"{prefix}hi"),
    ]


def digest_from_row(values: dict, prefix: str = "") -> str:
    return "{}:{:x}:{:x}".format(
        int(values[f"{prefix}rows"]), int(values[f"{prefix}lo"]), int(values[f"{prefix}hi"])
    )


def spark_digest(df) -> str:
    """Digest of a whole DataFrame in one aggregate job."""
    return digest_from_row(df.agg(*digest_exprs(df, df.columns)).collect()[0].asDict())


def duck_digest(con, sql: str) -> str:
    """The same digest over the rows of a DuckDB query."""
    cols = sorted((r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall())
    rendered = []
    for name, typ in cols:
        ref = f'"{name}"'
        if typ in ("DOUBLE", "FLOAT", "REAL"):
            ref = f"CAST(round({ref} * 1e9) AS BIGINT)"
        rendered.append(f"coalesce(CAST({ref} AS VARCHAR), '{_NULL}')")
    md5 = f"md5(concat_ws(chr(31), {', '.join(rendered)}))"
    rows, lo, hi = con.execute(
        f"SELECT count(*), coalesce(sum(('0x' || substr({md5}, 1, 8))::BIGINT), 0), "
        f"coalesce(sum(('0x' || substr({md5}, 9, 8))::BIGINT), 0) FROM ({sql})"
    ).fetchone()
    return digest_from_row({"rows": rows, "lo": lo, "hi": hi})


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------


def _kg_base(spark, inputs_root: Path, n_convs: int) -> Path:
    """The seed-free 2N-conversation corpus and the entity dictionary,
    written once per size by the repo's own generators."""
    from delm_spark.data.synthetic import entity_dictionary, generate_transcripts

    base = inputs_root / f"base-convs{2 * n_convs}"
    if not (base / "_done").exists():
        generate_transcripts(
            spark, n_convs=2 * n_convs, n_hot=max(2, 2 * n_convs // 1000), partitions=16
        ).write.mode("overwrite").parquet(str(base / "transcripts"))
        entity_dictionary(spark).write.mode("overwrite").parquet(str(base / "dictionary"))
        (base / "_done").touch()
    return base


def _write_kg_inputs(con, base: Path, out: Path, seed: int) -> None:
    """Keep the conversations whose md5(seed, conv_id) is even, one output
    file per base file, and drop the last character before each
    sentence-final period in one turn in ten ("Acme Corp." becomes
    "Acme Cor."). The typo conversations the linked oracle appends by
    itself are stored as a separate table that the pipeline input unions
    in."""

    def pick(key_sql: str, every: int) -> str:
        return f"(('0x' || substr(md5({key_sql}), 1, 8))::BIGINT % {every}) = 0"

    hit = pick(f"'trunc:{seed}:' || conv_id || ':' || turn_idx", TRUNCATED_TURN_EVERY)
    text = f"CASE WHEN {hit} THEN regexp_replace(text, '\\w\\.(\\s|$)', '.\\1', 'g') ELSE text END"
    (out / "transcripts.parquet").mkdir()
    for i, part in enumerate(sorted((base / "transcripts").glob("*.parquet"))):
        dest = out / "transcripts.parquet" / f"part-{i:05d}.parquet"
        con.execute(
            f"""COPY (SELECT conv_id, turn_idx, role, {text} AS text, tool,
                         ts::TIMESTAMPTZ AS ts
                  FROM read_parquet('{part.as_posix()}')
                  WHERE {pick(f"'{seed}:' || conv_id", 2)}
                  ORDER BY conv_id, turn_idx)
                TO '{dest.as_posix()}' (FORMAT PARQUET)"""
        )
    (out / "dictionary.parquet").mkdir()
    dictionary = f"read_parquet('{(base / 'dictionary').as_posix()}/*.parquet')"
    con.execute(
        f"COPY (SELECT * FROM {dictionary} ORDER BY surface, canonical_id) TO "
        f"'{(out / 'dictionary.parquet' / 'part-00000.parquet').as_posix()}' (FORMAT PARQUET)"
    )
    # Spark's initcap of an already-lowercase surface, as in the oracle
    initcap = (
        "array_to_string(list_transform(string_split("
        "substr(surface, 1, length(surface) - 1), ' '), "
        "w -> upper(substr(w, 1, 1)) || substr(w, 2)), ' ')"
    )
    con.execute(
        f"""COPY (SELECT 'typo:' || surface AS conv_id, CAST(0 AS INTEGER) AS turn_idx,
                     'user' AS role, 'Alice Smith works at ' || {initcap} || '.' AS text,
                     '' AS tool, TIMESTAMPTZ '2026-01-01 00:00:00+00' AS ts
              FROM {dictionary} WHERE length(surface) > {TYPO_MIN_SURFACE_LEN}
              ORDER BY conv_id)
            TO '{(out / "typos.parquet").as_posix()}' (FORMAT PARQUET)"""
    )


def _write_ann_inputs(out: Path, n_docs: int, n_vecs: int, seed: int) -> None:
    """Seeded documents/embeddings tables in the operator testdata's
    layout (one single-row-group parquet file per table): bag-of-words
    documents over a 30-word vocabulary, every twentieth a near-duplicate
    of a random earlier document, and unit-norm float32 embeddings.

    Document lengths follow a fixed 17..109-word schedule and only the
    words are seeded: the long documents that hold every vocabulary word
    form the big SimHash block, and with seeded lengths its size (so the
    pair count, quadratic in it) varied by 19% between seeds instead of 8%."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 19:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(DOC_WORDS, size=17 + (i * 37) % 93))
        texts.append(" ".join(words))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([DOC_LANGS[int(x)] for x in rng.integers(0, len(DOC_LANGS), n_docs)]),
            "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array([len(s) for s in texts], type=pa.int64()),
        }
    )
    pq.write_table(docs, out / "documents.parquet", row_group_size=n_docs)
    v = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )
    pq.write_table(emb, out / "embeddings.parquet", row_group_size=n_vecs)


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------


def _oracle_sql_for(name: str, inputs: Path) -> str:
    """The repo's own oracle SQL for ``name``, with the committed fixture
    paths replaced by this input's files. Refuses if the SQL does not
    reference the path it is meant to replace."""
    import __spark_entry__ as entry_mod

    sql = entry_mod.oracle_sql()[name]
    fixtures = entry_mod._FIXTURES.as_posix()
    if name.startswith("kg_"):
        for table in ("transcripts.parquet", "dictionary.parquet"):
            old = f"{fixtures}/{table}"
            if old not in sql:
                raise RuntimeError(f"oracle SQL of {name} no longer reads {old}")
            sql = sql.replace(old, (inputs / table).as_posix())
    return sql


def _oracle_digests(con, workload: str, inputs: Path) -> dict:
    """Digest of each oracle's rows (and, for KG, of its entity ids)."""
    if workload == "kg_staged":
        con.execute(f"CREATE TABLE oracle AS {_oracle_sql_for('kg_triples_linked_pipeline', inputs)}")
        ids = "SELECT subj_id AS entity_id FROM oracle UNION SELECT obj_id FROM oracle"
        return {"edges": duck_digest(con, "SELECT * FROM oracle"), "node_ids": duck_digest(con, ids)}
    for table in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM "
            f"read_parquet('{(inputs / (table + '.parquet')).as_posix()}')"
        )
    return {q: duck_digest(con, _oracle_sql_for(q, inputs)) for q in ANN_QUERIES}


# --------------------------------------------------------------------------
# public entry
# --------------------------------------------------------------------------


def prepare(spark, work: Path, workload: str, size: dict, seed: int) -> tuple[Path, dict]:
    """Return (input dir, meta) for the key, generating the input and its
    oracle digests on first use. ``meta`` holds the content digest and the
    oracle digests."""
    import duckdb

    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    root = work / "inputs"
    inputs = root / f"{workload}-{key}-s{seed}"
    meta_path = inputs / "_meta.json"
    if meta_path.exists():
        return inputs, json.loads(meta_path.read_text())
    if inputs.exists():
        shutil.rmtree(inputs)
    tmp = inputs / "_duckdb_tmp"
    tmp.mkdir(parents=True)
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp.as_posix()}'")
        con.execute("SET TimeZone='UTC'")
        if workload == "kg_staged":
            base = _kg_base(spark, root, size["convs"])
            _write_kg_inputs(con, base, inputs, seed)
        else:
            _write_ann_inputs(inputs, size["docs"], size["vecs"], seed)
        names = sorted(p.name for p in inputs.glob("*.parquet"))
        meta = {
            "content_digest": content_digest(inputs, names),
            "oracle": _oracle_digests(con, workload, inputs),
        }
    finally:
        con.close()
        shutil.rmtree(tmp, ignore_errors=True)
    meta_path.write_text(json.dumps(meta, indent=1, sort_keys=True))
    return inputs, meta
