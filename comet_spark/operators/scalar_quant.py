"""Scalar-quantized flat index — H8/H9 as STORAGE modes, not just codecs.

The reference's quantizers are index storage options (``quantizer.go:
136-157``; the flat index stores float16 or int8 vectors and searches over
them) — this is the Spark layout equivalent:

- ``int8``: vectors stored ARRAY<TINYINT> (4× smaller scan than float64)
  plus one global ``abs_max``; search dequantizes INSIDE the scan
  expression (pure Catalyst arithmetic — whole-stage codegen, no Python),
  so the 100 TB plan is a single narrow columnar scan. Quantize, dequant,
  and distance are all native arithmetic → directly SQL-oracle-able.
- ``float16``: vectors squeezed through IEEE half at WRITE time and stored
  ARRAY<FLOAT> (2× smaller); search is the plain exact scan over the
  squeezed values — zero extra work at read. The squeeze itself is the
  only non-SQL step, so the oracle replays search from the written
  parquet artifact (by-construction, like the ANN layouts).

Both modes persist with ``write``/``read`` — the parquet table IS the
index, mirroring how IVF's partitioned layout is its index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from comet_spark.functions.quantize import (
    float16_roundtrip,
    int8_absmax,
    int8_dequantize,
    int8_quantize,
)
from comet_spark.functions.vector import distance, to_double_array
from comet_spark.operators.topk import topk
from comet_spark.session import local_frame

__all__ = ["ScalarQuantizedIndex"]


class ScalarQuantizedIndex:
    """Flat k-NN over a scalar-quantized storage layout."""

    def __init__(self, encoded: DataFrame, mode: str, abs_max: float | None = None):
        if mode not in ("int8", "float16"):
            raise ValueError(f"unknown storage mode {mode!r}")
        if mode == "int8" and abs_max is None:
            raise ValueError("int8 storage needs the trained abs_max")
        self.encoded = encoded
        self.mode = mode
        self.abs_max = abs_max

    @classmethod
    def build(
        cls, docs: DataFrame, mode: str = "int8", *,
        id_col: str = "id", vec_col: str = "vector",
    ) -> "ScalarQuantizedIndex":
        """Train (int8: one global max|x| pass) + encode the corpus."""
        if mode == "int8":
            abs_max = int8_absmax(docs, vec_col)
            enc = docs.select(
                F.col(id_col).cast("bigint").alias("id"),
                int8_quantize(to_double_array(vec_col), abs_max).alias("qvec"),
            )
            return cls(enc, mode, abs_max)
        enc = float16_roundtrip(docs, id_col=id_col, vec_col=vec_col).select(
            "id", F.col("vector_f16").alias("qvec")
        )
        return cls(enc, "float16")

    def write(self, path: str) -> None:
        """The parquet table is the index; int8 stores its scale alongside."""
        self.encoded.write.mode("overwrite").parquet(f"{path}/vectors.parquet")
        spark = self.encoded.sparkSession
        meta = [(self.mode, float(self.abs_max) if self.abs_max is not None else None)]
        local_frame(spark, meta, "mode string, abs_max double").repartition(
            1
        ).write.mode("overwrite").parquet(f"{path}/meta.parquet")

    @classmethod
    def read(cls, spark, path: str) -> "ScalarQuantizedIndex":
        meta = spark.read.parquet(f"{path}/meta.parquet").first()
        enc = spark.read.parquet(f"{path}/vectors.parquet")
        return cls(enc, meta["mode"], meta["abs_max"])

    def search(
        self, qvec: list[float], *, k: int = 10, metric: str = "l2",
        round_to: int | None = 6,
    ) -> DataFrame:
        """Exact metric over dequantized storage, one pruned columnar scan.

        The query vector is quantized with the SAME codec first (reference
        parity: both sides go through storage precision, so distances are
        symmetric in the quantization error)."""
        if self.mode == "int8":
            from decimal import ROUND_HALF_UP, Decimal

            scale = 127.0 / self.abs_max
            inv = self.abs_max / 127.0

            def q8(x: float) -> int:
                # byte-identical twin of int8_quantize's F.round(x*scale):
                # Spark rounds the SHORTEST-DECIMAL rendering half-up
                # (BigDecimal.valueOf), which repr() + Decimal reproduces —
                # a hand-rolled floor(x/inv + 0.5) differs in final ULPs
                # and can flip a boundary component by one code
                v = int(
                    Decimal(repr(x * scale)).quantize(
                        Decimal("1"), rounding=ROUND_HALF_UP
                    )
                )
                return max(-127, min(127, v))

            q = [q8(float(x)) * inv for x in qvec]
            stored = int8_dequantize(F.col("qvec"), self.abs_max)
        else:
            import numpy as np

            q = [
                float(v)
                for v in np.asarray(qvec, dtype=np.float64)
                .astype(np.float16)
                .astype(np.float64)
            ]
            stored = to_double_array("qvec")
        qlit = F.array(*[F.lit(float(x)) for x in q])
        score = distance(metric, stored, qlit)
        if round_to is not None:
            score = F.round(score, round_to)
        scored = self.encoded.select("id", score.alias("score")).filter(
            F.col("score").isNotNull()  # NULL cosine (zero vector) sorts first asc
        )
        return topk(scored, [F.col("score").asc(), F.col("id").asc()], k)
