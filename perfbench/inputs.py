"""Seeded inputs for the benchmark. The engine only ever sees what these
functions return; the same seed always yields the same inputs.

- elements: the `generate_elements()` fixture, a seeded 10 % of rows dropped;
- images: geotagged rows, 20 % of them in two hotspot cells;
- corpus: a `documents` parquet table with the structure of the curation
  queries' scale-factor table.
"""

from __future__ import annotations

import os

import numpy as np

DROP_FRAC = 0.10


def elements(seed: int) -> list[dict]:
    """The `generate_elements()` fixture with a seeded DROP_FRAC of its rows
    dropped."""
    from osm_public_space_mapper_spark.fixtures.elements import generate_elements

    base = generate_elements()
    rng = np.random.default_rng([seed, 0])
    dropped = set(rng.choice(len(base), size=int(round(DROP_FRAC * len(base))), replace=False).tolist())
    return [r for n, r in enumerate(base) if n not in dropped]


def images(spark, n: int, seed: int):
    """`synth_images_spark` (20 % of rows in two hotspot cells) →
    with_geotag → project_points → with_cells, not materialized."""
    from osm_public_space_mapper_spark.fixtures.images import synth_images_spark
    from osm_public_space_mapper_spark.operators import joins

    return joins.with_cells(joins.project_points(joins.with_geotag(synth_images_spark(spark, n, seed=seed))))


def id_hash(*cols):
    """Sum of the rows' xxhash64 of `cols`, each taken mod 2**31 so the sum
    cannot overflow: with the row count, an order-insensitive digest."""
    from pyspark.sql import functions as F

    return F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 31)))


# the curation table follows the structure of the engine's scale-factor test
# data (measured on its sf0.1 `documents` table): 10–99 words per document
# drawn uniformly from a 30-word vocabulary, 5 % of the documents a copy of
# another one with " dup" appended, 41 % English and the rest zh/es/fr/de in
# equal shares, 20 round-robin sources
_VOCAB = (
    "spark window merge table column vector stream value data small join filter big group "
    "hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
NEAR_DUP_FRAC = 0.05


def write_corpus(path: str, n_docs: int, seed: int) -> None:
    """`documents` (doc_id, text, lang, source, n_chars) parquet table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng([seed, 11])
    texts = [" ".join(_VOCAB[i] for i in rng.integers(0, len(_VOCAB), rng.integers(10, 100)))
             for _ in range(n_docs)]
    for d in rng.choice(n_docs, size=int(NEAR_DUP_FRAC * n_docs), replace=False):
        texts[d] = texts[int(rng.integers(0, n_docs))] + " dup"
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(len(_LANGS), size=n_docs, p=_LANG_P)],
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(docs, os.path.join(path, "documents.parquet"))

