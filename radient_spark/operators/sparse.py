"""Sparse text vectors: MLlib CountVectorizer / IDF wrappers emitting
SparseVector columns — closing the reference's declared sparse-vector
gap (vectorizers/text/sklearn.py:26-29 returns scipy CSR;
README.md:115-119 lists sparse/binary vectors as planned surface).

Spark-first shape: vocabulary fitting is a distributed frequency
aggregation (CountVectorizer.fit), transform is a per-row hashmap
lookup JVM-side, and the vectors stay sparse end to end (no dense
explosion at vocab scale). Conversions bridge the engine's canonical
array<float> convention and MLlib's VectorUDT.

Scale notes: the fitted vocabulary is capped (`vocab_size`) and lives in
the transform closure as a broadcast hashmap — at corpus scale that cap
is the memory contract. The long-format exploder densifies one row at a
time to |vocab| doubles; with the default 2^18 cap that is ~2 MB per
row, bounded and spillable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radient_spark.session import local_frame


def sparse_count_vectors(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "tf",
    vocab_size: int = 1 << 18,
    min_df: float = 1.0,
    binary: bool = False,
) -> tuple[DataFrame, list[str]]:
    """Whitespace-tokenized term-count SparseVectors (MLlib
    CountVectorizer). Returns (df + out_col, fitted vocabulary); slot i
    of every vector is vocabulary[i]."""
    from pyspark.ml.feature import CountVectorizer

    toks = df.withColumn("__toks", F.split(F.trim(F.col(text_col)), r"\s+"))
    cv = CountVectorizer(
        inputCol="__toks",
        outputCol=out_col,
        vocabSize=vocab_size,
        minDF=min_df,
        binary=binary,
    )
    model = cv.fit(toks)
    return model.transform(toks).drop("__toks"), list(model.vocabulary)


def sparse_tfidf(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "tfidf",
    vocab_size: int = 1 << 18,
    min_df: float = 1.0,
) -> tuple[DataFrame, list[str]]:
    """TF-IDF SparseVectors: CountVectorizer counts re-weighted by MLlib
    IDF (idf(t) = ln((m + 1) / (df(t) + 1)), m = corpus size)."""
    from pyspark.ml.feature import IDF

    counted, vocab = sparse_count_vectors(
        df, text_col=text_col, out_col="__tf", vocab_size=vocab_size, min_df=min_df
    )
    # IDF.fit and the downstream consumer both scan the counted vectors;
    # caching here avoids re-tokenizing + re-vectorizing the corpus on
    # every action (2 of the 4 scans in the naive chain)
    counted = counted.cache()
    idf = IDF(inputCol="__tf", outputCol=out_col)
    model = idf.fit(counted)
    return model.transform(counted).drop("__tf"), vocab


def sparse_to_array(col):
    """SparseVector/DenseVector column -> array<double> (Catalyst expr,
    no Python)."""
    from pyspark.ml.functions import vector_to_array

    return vector_to_array(col)


def array_to_sparse_vector(col):
    """array<numeric> column -> SparseVector, dropping zeros.

    Conversion utility, not a hot-path operator: VectorUDT has no Arrow
    mapping, so this is a plain (row-at-a-time) UDF by necessity — use
    it at pipeline edges, not inside scans.
    """
    from pyspark.ml.linalg import Vectors, VectorUDT

    @F.udf(returnType=VectorUDT())
    def to_sparse(xs):
        if xs is None:
            return None
        nz = [(i, float(v)) for i, v in enumerate(xs) if float(v) != 0.0]
        return Vectors.sparse(len(xs), [i for i, _ in nz], [v for _, v in nz])

    return to_sparse(col)


def sparse_terms_long(
    df: DataFrame,
    vocabulary: list[str],
    vec_col: str,
    id_col: str = "doc_id",
    term_col: str = "term",
    value_col: str = "value",
) -> DataFrame:
    """Explode a SparseVector column to long form (id, term, value),
    value != 0 — the join-able / oracle-checkable view of the sparse
    matrix. The vocabulary rides along as a broadcast slot->term dim."""
    spark = df.sparkSession
    vocab_df = local_frame(
        spark, list(enumerate(vocabulary)), "slot int, __term string"
    )
    exploded = (
        df.select(F.col(id_col), F.posexplode(sparse_to_array(F.col(vec_col))))
        .withColumnRenamed("pos", "slot")
        .filter(F.col("col") != 0.0)
    )
    return (
        exploded.join(F.broadcast(vocab_df), "slot")
        .select(
            F.col(id_col),
            F.col("__term").alias(term_col),
            F.col("col").alias(value_col),
        )
    )
