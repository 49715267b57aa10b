"""Dedup coverage over the ``documents`` table (north-star extension;
operators in operators/dedup.py). Oracles reproduce the same md5-based
hashing in DuckDB SQL so signatures match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gigapi_querier_spark.inventory import register
from gigapi_querier_spark.operators import dedup as D
from gigapi_querier_spark.sources import load_tables


@register(
    "dedup_exact_stats",
    oracle="""
SELECT count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_unique,
       CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs
FROM documents
""",
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return D.exact_dedup_stats(t["documents"])


@register(
    "dedup_exact_keep_first",
    oracle="""
SELECT md5(text) AS fp, CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with keep-lowest-id semantics: one shuffle on the
    content fingerprint; only (digest, id) pairs move, never documents."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .select(F.md5("text").alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


# DuckDB mirror of operators/dedup.py:shingle_relation (1-based inclusive slices).
_ORACLE_SHINGLES = """
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                               i -> array_to_string(w[i:i+2], ' '))) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) words
"""

# Min-wise universal hashing, bit-for-bit what operators/dedup.py computes:
# x = first 28 bits of md5(shingle); h_i = min (A_i*x + B_i) mod P.
_H = "min(({a} * x + {b}) % 2147483647) AS h{i}"
_ORACLE_SIGS = """
  SELECT doc_id,
         {hs}
  FROM (SELECT doc_id, ('0x' || substring(md5(sh), 1, 7))::BIGINT AS x
        FROM ({shingles}) shingles) xs
  GROUP BY doc_id
"""


def _oracle_sigs() -> str:
    from gigapi_querier_spark.operators.dedup import MINHASH_A, MINHASH_B

    hs = ", ".join(
        _H.format(a=MINHASH_A[i], b=MINHASH_B[i], i=i) for i in range(8)
    )
    return _ORACLE_SIGS.format(hs=hs, shingles=_ORACLE_SHINGLES)


@register(
    "dedup_minhash_signatures",
    oracle=f"SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7 FROM ({_oracle_sigs()}) s",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return D.minhash_signatures(t["documents"], num_hashes=8)


#: Reusable CTE body: the LSH candidate pairs (shared by the clusters
#: oracle in inventory/llmops.py).
ORACLE_LSH_PAIRS = f"""
WITH sigs AS ({_oracle_sigs()}),
bands AS (
  SELECT doc_id, 0 AS band, md5(concat(h0::VARCHAR, ':', h1::VARCHAR)) AS bv FROM sigs
  UNION ALL SELECT doc_id, 1, md5(concat(h2::VARCHAR, ':', h3::VARCHAR)) FROM sigs
  UNION ALL SELECT doc_id, 2, md5(concat(h4::VARCHAR, ':', h5::VARCHAR)) FROM sigs
  UNION ALL SELECT doc_id, 3, md5(concat(h6::VARCHAR, ':', h7::VARCHAR)) FROM sigs
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
"""


@register("dedup_minhash_lsh_pairs", oracle=ORACLE_LSH_PAIRS)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    sig = D.minhash_signatures(t["documents"], num_hashes=8)
    return D.minhash_lsh_pairs(sig, num_hashes=8, rows_per_band=2)


def _simhash_oracle() -> str:
    # Same integer form as operators/dedup.py:simhash16 — the 16 hex
    # digits parse once into two 32-bit ints; bit i = LSB of digit i.
    def bit(i: int) -> str:
        x, j = ("x1", i) if i < 8 else ("x2", i - 8)
        return f"(({x} >> {4 * (7 - j)}) & 1)"

    votes = ",\n         ".join(f"sum({bit(i)}) AS s{i}" for i in range(16))
    bits = " + ".join(
        f"(CASE WHEN s{i} * 2 > cnt THEN {1 << i} ELSE 0 END)" for i in range(16)
    )
    return f"""
WITH words AS (
  SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents
),
ints AS (
  SELECT doc_id,
         ('0x' || substring(h, 1, 8))::BIGINT AS x1,
         ('0x' || substring(h, 9, 8))::BIGINT AS x2
  FROM words
),
votes AS (
  SELECT doc_id, count(*) AS cnt,
         {votes}
  FROM ints GROUP BY doc_id
)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes
"""


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return D.simhash16(t["documents"])


@register(
    "dedup_jaccard_pairs",
    oracle="""
WITH sets AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                      i -> array_to_string(w[i:i+2], ' '))) AS shs
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents) words
),
sh AS (
  SELECT doc_id, lang, CAST(len(shs) AS BIGINT) AS n,
         ('0x' || substring(md5(unnest(shs)), 1, 15))::BIGINT AS sh
  FROM sets
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c,
         max(a.n) AS na, max(b.n) AS nb
  FROM sh a JOIN sh b
    ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(c * 1.0 / (na + nb - c), 4) AS jaccard
FROM inter
WHERE round(c * 1.0 / (na + nb - c), 4) >= 0.1
""",
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return D.jaccard_pairs(
        t["documents"], block_cols=("lang",), threshold=0.1
    )
