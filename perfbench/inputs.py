"""Seeded inputs of ``audit_dirty``, plus their oracle expectations.

Both are made once per (seed, size) under ``.bench_data/`` by a child
process (``run.py --prepare``), so that the measured process never
generates data: it starts in the same state whether or not the seed was
seen before. The corpora come from the package's own distributed generator
(``datagen``). ``pipeline_mix`` reads fixed tables (``data/``) and needs
nothing from here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracles

CLEAN_RATE, DIRTY_RATE = 0.001, 0.05


def doc_config(seed: int, n_docs: int, rate: float, n_media: int):
    """Generator knobs: ``rate`` per injection class (kind enum, negative
    offset, over-long text, dangling media ref) plus up to 1% duplicate ids."""
    from json_schema_spark.datagen import DocGenConfig

    return DocGenConfig(n_docs=n_docs, seed=seed, n_media=n_media,
                        bad_kind_rate=rate, neg_offset_rate=rate,
                        long_text_rate=rate, dangling_rate=rate,
                        dup_rate=min(rate, 0.01))


def audit_schema(size: dict) -> dict:
    from json_schema_spark.datagen import documents_json_schema

    return documents_json_schema(doc_config(0, size["n_docs"], DIRTY_RATE,
                                            size["n_media"]))


def audit_dirs(root: str, seed: int, tag: str) -> dict:
    """Where the audit inputs live: one base corpus per size, shared by all
    seeds, and per seed only the documents with their ids permuted."""
    base = os.path.join(root, f"audit_dirty-base-{tag}")
    return {"base": base,
            "documents": os.path.join(root, f"audit_dirty-s{seed}-{tag}", "documents"),
            "media": os.path.join(base, "media"),
            "reference": os.path.join(base, "reference")}


def make_audit_base(spark, dirs: dict, size: dict) -> None:
    """``documents`` and ``media`` at DIRTY_RATE, and a quarter-size clean
    ``reference`` corpus from another generator seed (the drift baseline)."""
    from json_schema_spark.datagen import generate_documents, generate_media

    base, n, n_media = dirs["base"], size["n_docs"], size["n_media"]
    cfg = doc_config(0, n, DIRTY_RATE, n_media)
    generate_documents(spark, cfg).write.mode("overwrite").parquet(f"{base}/documents")
    generate_media(spark, cfg).coalesce(1).write.mode("overwrite").parquet(dirs["media"])
    ref = doc_config(7919, max(1, n // 4), CLEAN_RATE, n_media)
    generate_documents(spark, ref).write.mode("overwrite").parquet(dirs["reference"])
    open(os.path.join(base, "_READY"), "w").close()


def make_audit(dirs: dict, seed: int, size: dict) -> dict:
    """The seed's documents: the base corpus with every doc id mapped
    through a seeded permutation of the id space (duplicated ids stay
    duplicated; the bucket each document lands in changes). The work a
    pass does is then the same for every seed, which at this size it would
    not be for fresh draws."""
    perm = np.random.default_rng(seed).permutation(size["n_docs"])
    src, dst = os.path.join(dirs["base"], "documents"), dirs["documents"]
    os.makedirs(dst, exist_ok=True)
    for name in sorted(os.listdir(src)):
        if not name.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(src, name))
        ids = [f"doc_{perm[int(x[4:])]:012d}" for x in t.column("doc_id").to_pylist()]
        t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id", pa.array(ids))
        pq.write_table(t, os.path.join(dst, name))
    schema = audit_schema(size)
    return {
        "violations": oracles.typed_violations(dst, schema),
        "checks": oracles.corpus_checks(dst, dirs["media"], dirs["reference"]),
        "deep_ids": oracles.deep_subset_ids(dst, schema, size["deep_docs"]),
    }
