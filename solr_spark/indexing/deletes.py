"""Delete path for the LSM index: tombstone docid sets + merge-time purge.

Reference semantics: Lucene/Solr deletes are SOFT until merge — deleteByQuery
(stream/DeleteStream.java, update/DirectUpdateHandler2.java) marks docids in a
liveDocs bitset consulted at collect time; term/corpus statistics (docFreq,
docCount, norms) still include deleted docs until segments merge away the
tombstones. This module mirrors that exactly:

  * `delete_docids` / `delete_by_terms` append a tombstone parquet under
    `deletes/` (immutable, LSM-style — no segment rewrite on delete).
  * Query paths subtract tombstones at collect time (the kernels mask scored
    docids; DataFrame paths anti-join) — scores of surviving docs are
    UNCHANGED because df/n_docs/avgdl still count deleted docs, as in Lucene.
  * `merge_segments` (indexing/merge.py) purges tombstoned postings inside its
    vectorized merge kernel, rebuilds the dictionary (df now drops), and
    clears the applied tombstone files.

Scale note: the tombstone set is bounded by deletions since the last merge
(the same working-set bound as Lucene's liveDocs); the kernels receive it as a
sorted int64 array for O(log n) membership masks.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DELETES_DIR = "deletes"


def _deletes_root(index_dir: str) -> str:
    return os.path.join(index_dir, DELETES_DIR)


def delete_docids(spark: SparkSession, index_dir: str,
                  docids: DataFrame) -> int:
    """Append a tombstone batch (docid column). Returns tombstones written."""
    root = _deletes_root(index_dir)
    os.makedirs(root, exist_ok=True)
    existing = [d for d in os.listdir(root) if d.startswith("del-")]
    path = os.path.join(root, f"del-{len(existing):03d}")
    out = docids.select(F.col("docid").cast("long")).dropDuplicates(["docid"])
    out.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).count()


def delete_by_terms(spark: SparkSession, reader, terms: list[str]) -> int:
    """deleteByQuery for a term conjunction: tombstone every doc containing
    ALL `terms` (analyzed), resolved through the inverted index."""
    from solr_spark.analysis import analyze_text
    from solr_spark.query.bm25 import clause_docids

    analyzed = {t for raw in terms for t in analyze_text(raw, reader.config)}
    if not analyzed:
        return 0
    return delete_docids(spark, reader.index_dir, clause_docids(
        spark, reader, [[t] for t in sorted(analyzed)], apply_deletes=False))


def deletes_df(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """All live tombstones as DataFrame(docid), or None when there are none."""
    root = _deletes_root(index_dir)
    if not os.path.isdir(root):
        return None
    batches = sorted(d for d in os.listdir(root) if d.startswith("del-"))
    if not batches:
        return None
    out = spark.read.parquet(*[os.path.join(root, b) for b in batches])
    return out.dropDuplicates(["docid"])


def deleted_array(spark: SparkSession, index_dir: str) -> np.ndarray:
    """Tombstones as a sorted int64 numpy array (empty when none) — the
    liveDocs mask handed to the scoring kernels. Driver-side pyarrow read:
    tombstones are small by construction (bounded by deletes since last
    merge); no Spark job."""
    root = _deletes_root(index_dir)
    if not os.path.isdir(root):
        return np.empty(0, dtype=np.int64)
    import pyarrow.parquet as pq

    parts = []
    for b in sorted(os.listdir(root)):
        if not b.startswith("del-"):
            continue
        d = os.path.join(root, b)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                parts.append(pq.read_table(
                    os.path.join(d, f), columns=["docid"])["docid"].to_numpy())
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts)).astype(np.int64)


def clear_deletes(index_dir: str) -> None:
    """Remove applied tombstone batches (called after a merge purges them)."""
    import shutil

    root = _deletes_root(index_dir)
    if os.path.isdir(root):
        shutil.rmtree(root)
