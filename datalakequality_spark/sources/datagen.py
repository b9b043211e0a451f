"""Deterministic synthetic tokenized-sequence generation (FIXTURES.md F1).

Schema per BASELINE.json input_hint:
    doc_id: string, tokens: array<int32>, n_tok: int32, source: string

Everything is a pure function of ``(seed, id, rev)`` computed with
JVM-side hash expressions — no Python in the data path, no RNG state —
so any single row is reproducible independently (required by the
byte-for-byte scan-parity checks under token-array equality) and the
generator scales to 10^12 rows as a single ``spark.range`` plan.

Distributions:
- ``source``  — Zipf(s=1.07) over ``n_sources`` names → one or two heavy
  sources to exercise salting + AQE skew handling.
- ``n_tok``   — lognormal via Box–Muller on two xxhash64-derived
  uniforms, clipped to [1, 8192].
- ``tokens``  — ``token[i] = xxhash64(doc_id, rev, i) mod vocab`` via
  ``F.transform`` over ``F.sequence`` (JVM lambda, no UDF).
- PII — a controlled ~1% of doc_ids embed an email / an 11–14 digit run,
  matching the reference's PII regexes
  (/root/reference/backend/app/core/pii.py:7-9) deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SOURCES = [
    "web", "books", "code", "wiki", "news", "forums", "papers", "social",
    "legal", "medical", "patents", "subtitles", "reviews", "mail",
    "chat", "docs", "qa", "recipes", "lyrics", "transcripts",
]
VOCAB = 50257


def _uniform(*cols) -> F.Column:
    """Deterministic uniform in (0,1) from hashed inputs."""
    h = F.xxhash64(*cols)
    return (F.pmod(h, F.lit(2**31 - 1)).cast("double") + 0.5) / F.lit(float(2**31 - 1))


def _zipf_thresholds(n: int, s: float = 1.07) -> list[float]:
    weights = [1.0 / (k + 1) ** s for k in range(n)]
    total = sum(weights)
    acc, out = 0.0, []
    for w in weights:
        acc += w / total
        out.append(acc)
    return out


def generate_sequences(
    spark: SparkSession,
    n_rows: int,
    start_id: int = 0,
    rev: int = 0,
    seed: int = 42,
    mean_tokens: float = 256.0,
    sigma: float = 0.8,
    n_sources: int = 20,
    max_tokens: int = 8192,
    num_partitions: int | None = None,
    with_tokens: bool = True,
) -> DataFrame:
    """Sequences table slice for ids [start_id, start_id + n_rows).

    ``rev`` salts the token arrays: the same doc_id at rev=1 is an
    *update* of rev=0 (different tokens, same identity) — used by MERGE
    fixtures. ``with_tokens=False`` skips the (large) token arrays for
    metadata-heavy tests.
    """
    import math

    num_partitions = num_partitions or max(1, min(256, n_rows // 50_000 + 1))
    df = spark.range(start_id, start_id + n_rows, 1, num_partitions)

    u_src = _uniform(F.col("id"), F.lit(seed), F.lit("src"))
    src = F.lit(SOURCES[n_sources - 1])
    for i in range(n_sources - 2, -1, -1):
        src = F.when(u_src <= _zipf_thresholds(n_sources)[i], F.lit(SOURCES[i])).otherwise(src)

    u1 = _uniform(F.col("id"), F.lit(seed), F.lit("len1"))
    u2 = _uniform(F.col("id"), F.lit(seed), F.lit("len2"))
    z = F.sqrt(-2.0 * F.log(u1)) * F.cos(2.0 * math.pi * u2)
    mu = math.log(mean_tokens) - sigma * sigma / 2.0
    n_tok = F.least(
        F.greatest(F.exp(F.lit(mu) + F.lit(sigma) * z).cast("int"), F.lit(1)),
        F.lit(max_tokens),
    )

    # two 6-digit groups split by a letter (supports 10^12 ids) — digit
    # runs stay < 7 and the separator is outside the phone class
    # [\d\s\-], so plain doc_ids never trip the ID/phone PII regexes;
    # only the deliberate ~1% PII variants below do
    base_id = F.concat(
        F.col("source"),
        F.lit("-"),
        F.lpad((F.col("id") / 1_000_000).cast("long").cast("string"), 6, "0"),
        F.lit("x"),
        F.lpad(F.pmod(F.col("id"), F.lit(1_000_000)).cast("string"), 6, "0"),
    )
    pii_sel = F.pmod(F.col("id"), F.lit(199))
    doc_id = (
        F.when(pii_sel == 7, F.concat(base_id, F.lit("-user"), F.col("id"), F.lit("@example.com")))
        .when(
            pii_sel == 13,
            F.concat(base_id, F.lit("-"), F.lpad(F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(10**12)).cast("string"), 12, "0")),
        )
        .otherwise(base_id)
    )

    df = (
        df.withColumn("source", src)
        .withColumn("n_tok", n_tok)
        .withColumn("doc_id", doc_id)
    )
    if with_tokens:
        tokens = F.transform(
            F.sequence(F.lit(0), F.col("n_tok") - 1),
            lambda i: F.pmod(F.xxhash64(F.col("doc_id"), F.lit(rev), i), F.lit(VOCAB)).cast("int"),
        )
        df = df.withColumn("tokens", tokens)
    else:
        df = df.withColumn("tokens", F.lit(None).cast("array<int>"))
    return df.select("doc_id", "tokens", "n_tok", "source")


def generate_merge_batch(
    spark: SparkSession,
    table_rows: int,
    update_fraction: float = 0.1,
    insert_rows: int | None = None,
    seed: int = 42,
    **kw,
) -> DataFrame:
    """MERGE source: ~update_fraction of existing ids re-generated at
    rev=1 (updates) + new ids beyond the table range (inserts)."""
    insert_rows = insert_rows if insert_rows is not None else max(1, table_rows // 10)
    stride = max(1, int(1 / update_fraction))
    updates = generate_sequences(spark, table_rows, rev=1, seed=seed, **kw).where(
        F.pmod(F.xxhash64("doc_id", F.lit("upd")), F.lit(stride)) == 0
    )
    inserts = generate_sequences(spark, insert_rows, start_id=table_rows, rev=0, seed=seed, **kw)
    return updates.unionByName(inserts)
