"""Entity name embeddings + vector entity mapping (Q1 vector path, S10).

The reference embeds entity descriptions with an external model and
serves query→entity mapping from a vector store (reference
query/system_prompt_builder/entity_extraction.py:30-81,
vectorstore/__init__.py:6-30).  Here the embedding is a deterministic
char-trigram feature-hashing vector (no model, no network — the same
seam a real encoder plugs into), and the store is just an embedding
column: ANN search is `operators/similarity.py` over that column.

Kernel: one numpy pass per Arrow batch — v[poly_hash(gram) % dim] += 1
over char 3-grams of the normalized name, then L2-normalize.  Feature
hashing is the standard trick when no trained encoder is available;
similar surface forms share trigram mass, so alias-like names rank
close.  The gram hash is the SQL-expressible polynomial family
(functions/hashing.py), so a DuckDB oracle rebuilds identical vectors.

Scale: embedding is a narrow map; top-k delegates to the broadcast /
bucketed ANN operators.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64


def _trigram_vec(name: str, dim: int) -> np.ndarray:
    if not name or not name.strip():
        return np.zeros(dim, dtype=np.float64)
    from ..functions.hashing import poly_hash_kgrams

    s = f"  {name.strip().upper()}  "
    v = np.zeros(dim, dtype=np.float64)
    for h in poly_hash_kgrams(s, 3):
        v[int(h) % dim] += 1.0
    n = np.linalg.norm(v)
    return v / n if n else v


def make_name_embedding_udf(dim: int = DEFAULT_DIM):
    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(names: pd.Series) -> pd.Series:
        return names.map(lambda s: [float(x) for x in _trigram_vec(s or "", dim)])

    return embed


def with_name_embedding(
    df: DataFrame, name_col: str = "title", dim: int = DEFAULT_DIM
) -> DataFrame:
    return df.withColumn("name_embedding", make_name_embedding_udf(dim)(F.col(name_col)))


def map_query_to_entities(
    nodes: DataFrame,
    query_text: str,
    k: int = 5,
    name_col: str = "title",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Q1 vector path: embed the query string, cosine top-k over entity
    name embeddings.  (Empty-query fallback = query.top_entities_by_rank.)"""
    from .similarity import cosine_topk

    spark = nodes.sparkSession
    emb = with_name_embedding(nodes, name_col=name_col, dim=dim).select(
        F.col(name_col).alias("vec_id"), F.col("name_embedding").alias("embedding")
    )
    qvec = [float(x) for x in _trigram_vec(query_text, dim)]
    qdf = spark.createDataFrame(
        [("__query__", qvec)], "vec_id string, embedding array<float>"
    )
    corpus = emb.unionByName(qdf)
    hits = cosine_topk(corpus, qdf, k=k)
    return hits.filter(F.col("neighbor_id") != "__query__").select(
        F.col("neighbor_id").alias(name_col), "sim_micro", "rk"
    )

# ---------------------------------------------------------------------------
# S10 vector sink — Spark-idiomatic replacement for the reference's
# LanceDB/FAISS/Weaviate stores (reference vectorstore/__init__.py:6-30):
# a partitioned parquet/Iceberg table in the store layout (id, vector,
# metadata map), queried by the ANN operators in operators/similarity.py.
# ---------------------------------------------------------------------------


def write_vector_store(
    df: DataFrame,
    io,
    name: str,
    id_col: str = "title",
    vec_col: str = "name_embedding",
    metadata_cols: list[str] | None = None,
) -> None:
    """Materialize an embedding column as a vector-store table.

    ``io`` is a TableIO; metadata columns are packed into a string map so
    the store schema is stable regardless of the source table."""
    meta = F.map_from_arrays(
        F.array(*[F.lit(c) for c in (metadata_cols or [])]),
        F.array(*[F.col(c).cast("string") for c in (metadata_cols or [])]),
    )
    io.write(
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<float>").alias("embedding"),
            meta.alias("metadata"),
        ),
        name,
    )


def read_vector_store(io, name: str) -> DataFrame:
    """Load a vector-store table for the ANN operators (vec_id,
    embedding, metadata)."""
    return io.read(name)
