"""In-kernel top-k prune (round 14): losslessness of pair_cosine_arrow's
per_task_topk against the unpruned kernel, and the _PRUNE_MARGIN
rounding-safety property it relies on."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Window
from pyspark.sql import functions as F

from gravity_books_datalakehouse_spark.operators.similarity import (
    _PRUNE_MARGIN,
    _TOPK,
    collect_query_vectors,
    pair_cosine_arrow,
)
from gravity_books_datalakehouse_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def _topk_rows(spark, pruned: bool, k: int):
    e = load_table(spark, SF_SMOKE, "embeddings")
    qids, qvecs = collect_query_vectors(
        e.filter(F.col("vec_id") < 10), "vec_id", "embedding"
    )
    kern = pair_cosine_arrow(
        e, qids, qvecs, out_name="cs",
        per_task_topk=(k + 1) if pruned else None,
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("nid"))
    return sorted(
        kern.filter(F.col("qid") != F.col("nid"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cs")
        .collect()
    )


def test_pruned_topk_bit_identical(spark):
    """The windowed top-k over the pruned kernel equals the unpruned
    one row-for-row INCLUDING the raw cosine doubles (the prune only
    drops rows, never touches values)."""
    a = _topk_rows(spark, pruned=False, k=_TOPK)
    b = _topk_rows(spark, pruned=True, k=_TOPK)
    assert len(a) > 0
    assert a == b


def test_prefix_kernel_rung_prune_bit_identical(spark):
    """The union-of-rungs prune in pair_cosine_prefix_arrow keeps every
    rung's windowed top-k bit-identical to the unpruned kernel."""
    from gravity_books_datalakehouse_spark.operators.similarity import (
        pair_cosine_prefix_arrow,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    qids, qvecs = collect_query_vectors(
        e.filter(F.col("vec_id") < 10), "vec_id", "embedding"
    )
    outs = []
    for k in (None, _TOPK + 1):
        kern = pair_cosine_prefix_arrow(
            e, qids, qvecs, (8, 16), per_task_topk=k
        ).filter(F.col("qid") != F.col("nid"))
        rows = []
        for col in ("c8", "c16", "cfull"):
            w = Window.partitionBy("qid").orderBy(F.desc(col), F.asc("nid"))
            rows.extend(
                kern.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= _TOPK)
                .select(F.lit(col).alias("rung"), "qid", "nid", col)
                .collect()
            )
        outs.append(sorted(rows))
    assert len(outs[0]) > 0
    assert outs[0] == outs[1]


def test_prune_margin_is_rounding_safe():
    """Two doubles more than _PRUNE_MARGIN apart can never round to the
    same 6-dp value (so a row beaten by > margin also loses under any
    rounded-6 comparator). Checked on adversarial near-boundary pairs."""
    q = Decimal("0.000001")

    def r6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    bases = [0.1234565, 0.9999995, -0.0000005, 0.5, 0.1234575]
    for b in bases:
        for eps in (2.0000001e-6, 2.1e-6, 3e-6, 1e-5):
            hi, lo = b + eps, b
            assert r6(hi) > r6(lo), (hi, lo, r6(hi), r6(lo))


def _corpus_with_zero_vector(spark, zero_id: int):
    """12 vectors of width 8; row ``zero_id`` is all zeros."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [0.0] * 8 if i == zero_id else [rng.uniform(-1, 1) for _ in range(8)])
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_zero_norm_vector_raises_in_pruned_kernels(spark):
    """A zero-norm embedding makes its cosines NaN; the prune would turn
    that into an empty top-k, so both pruned kernels raise instead."""
    import pytest

    from gravity_books_datalakehouse_spark.operators.similarity import (
        pair_cosine_prefix_arrow,
    )

    e = _corpus_with_zero_vector(spark, zero_id=11)
    qids, qvecs = collect_query_vectors(
        e.filter(F.col("vec_id") < 3), "vec_id", "embedding"
    )
    for kern in (
        pair_cosine_arrow(e, qids, qvecs, per_task_topk=3),
        pair_cosine_prefix_arrow(e, qids, qvecs, (4,), per_task_topk=3),
    ):
        with pytest.raises(Exception, match="NaN cosine"):
            kern.collect()


def test_zero_norm_vector_raises_in_quantized_topk(spark, tmp_path):
    """Under ANSI the quantization scale's 127/0 already fails; without
    ANSI it quantizes to a null (zero) vector, and the kernel raises."""
    import pytest

    from gravity_books_datalakehouse_spark.operators.similarity import (
        sim_quantized_topk,
    )

    d = str(tmp_path / "zero_sf")
    _corpus_with_zero_vector(spark, zero_id=11).coalesce(1).write.parquet(
        f"{d}/embeddings.parquet"
    )
    ansi = "spark.sql.ansi.enabled"
    prior = spark.conf.get(ansi)
    try:
        for mode, error in (("true", "DIVIDE_BY_ZERO"), ("false", "NaN cosine")):
            spark.conf.set(ansi, mode)
            with pytest.raises(Exception, match=error):
                sim_quantized_topk(spark, d).collect()
    finally:
        spark.conf.set(ansi, prior)
