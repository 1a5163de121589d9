"""Seeded inputs: the same seed always gives the same tables.

The program under test receives only these generated inputs. Sizes are
chosen so that every workload, with its fresh JVMs, fits one run in well
under a minute on a 4-core host.
"""

from __future__ import annotations

import math
import os
import random

TYPED_DOCS = 100_000
SINK_DOCS = 10_000
SCAFFOLD_ROWS = 2_000
MIX_DOCS = 1_000
MIX_VECTORS = 600
MIX_EVENTS = 20_000

# the vocabulary of the sf tables' documents, so text statistics (gopher
# stopwords, entropy, bigram NLL) land in the same ranges
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


def doc_config(seed: int, n_docs: int, invalid_share: float):
    """datagen config with ``invalid_share`` of the docs schema-invalid,
    split over the three injections that break the documents schema."""
    from json_schema_spark.datagen import DocGenConfig

    from .session import CORES

    return DocGenConfig(n_docs=n_docs, seed=seed, max_spans=6,
                        dangling_rate=0.001,
                        bad_kind_rate=invalid_share * 0.4,
                        neg_offset_rate=invalid_share * 0.3,
                        long_text_rate=invalid_share * 0.3,
                        partitions=2 * CORES)


def write_corpus(spark, cfg, path: str) -> None:
    from json_schema_spark.datagen import generate_documents

    generate_documents(spark, cfg).write.mode("overwrite").parquet(path)


def scaffold_frame(spark, seed: int, n_rows: int = SCAFFOLD_ROWS):
    """(doc_id, doc): row ``doc_id`` carries scaffold variant
    ``(doc_id + seed) % 20`` as a JSON string."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod

    from .session import CORES

    variants = F.array(*[F.lit(s) for s in entry_mod._scaffold_docs()])
    pick = ((F.col("doc_id") + seed) % 20 + 1).cast("int")
    return (spark.range(0, n_rows, 1, CORES).withColumnRenamed("id", "doc_id")
            .select("doc_id", F.element_at(variants, pick).alias("doc")))


def write_mix_tables(seed: int, out_dir: str) -> None:
    """documents, embeddings and events parquet tables with the columns of
    the sf tables, drawn from ``random.Random(seed)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    texts = []
    for i in range(MIX_DOCS):
        if i % 50 == 3:  # repetitive docs, so the dup-fraction filters bind
            words = [rng.choice(WORDS)] * rng.randint(20, 60)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(8, 90))]
        texts.append(" ".join(words))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(MIX_DOCS), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(MIX_DOCS)],
        "source": [f"src{i % 20}" for i in range(MIX_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(MIX_VECTORS):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.6) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(MIX_VECTORS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))

    span_us = 30 * 86_400 * 1_000_000
    ts = sorted(rng.randrange(span_us) for _ in range(MIX_EVENTS))
    base_us = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC
    pq.write_table(pa.table({
        "event_id": pa.array(range(MIX_EVENTS), pa.int64()),
        "ts": pa.array([base_us + t for t in ts], pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(300) for _ in range(MIX_EVENTS)],
                            pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(MIX_EVENTS)],
        "value": [round(rng.uniform(0, 500), 2) for _ in range(MIX_EVENTS)],
        "props": [f'{{"k": {rng.randrange(90)}}}' for _ in range(MIX_EVENTS)],
    }), os.path.join(out_dir, "events.parquet"))
