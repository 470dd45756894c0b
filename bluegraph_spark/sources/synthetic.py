"""Deterministic synthetic source-code corpus (FIXTURES.md F1).

Generates the ``input_hint`` table ``(repo, path, commit, lang, content)``
fully inside Spark (no driver-side materialization): ``spark.range`` over
file ids, token draws via a seeded xxhash64-based mix so the same (seed,
file, position) always yields the same token. Token ranks are Zipf(1.1)-
skewed so a handful of stopword-like tokens appear in most files —
exercising the hot-factor block path exactly like real code corpora do.

No external data, no RNG state: everything derives from column expressions,
so the corpus is reproducible at any scale and identical across runs and
partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def synthetic_repo_files(
    spark: SparkSession,
    n_files: int = 100,
    vocab_size: int = 200,
    seed: int = 42,
    min_tokens: int = 20,
    max_tokens: int = 200,
    zipf_s: float = 1.1,
    langs: tuple[str, ...] = ("py", "js", "java", "c", "go"),
) -> DataFrame:
    """Build the deterministic (repo, path, commit, lang, content) table.

    Zipf sampling via inverse-CDF over ranks 1..V with exponent ``zipf_s``,
    driven by a uniform double derived from xxhash64(seed, file, pos).
    """
    files = spark.range(n_files).withColumnRenamed("id", "fid")

    def h(*cols):
        # uniform double in [0, 1) from a 64-bit hash
        return (F.abs(F.xxhash64(F.lit(seed), *cols)) % F.lit(2**52)) / F.lit(
            float(2**52)
        )

    n_tok = (
        F.lit(min_tokens)
        + (h(F.col("fid"), F.lit("len")) * (max_tokens - min_tokens)).cast("int")
    )
    df = files.select(
        "fid",
        F.concat(
            F.lit("org"), (F.col("fid") / 50).cast("long").cast("string"),
            F.lit("/repo"), (F.col("fid") % 50).cast("string"),
        ).alias("repo"),
        F.concat(
            F.lit("src/m"), (F.col("fid") % 7).cast("string"),
            F.lit("/f"), F.col("fid").cast("string"),
            F.lit("."), F.element_at(F.array(*[F.lit(l) for l in langs]),
                                     ((F.col("fid") % len(langs)) + 1).cast("int")),
        ).alias("path"),
        n_tok.alias("n_tok"),
    )
    # token at position p: zipf-rank r = floor(V * u^(1/(s-1))) is wrong for
    # s~1; use the standard inverse-CDF approximation r = V^(u) style mapping
    # for heavy skew instead: rank = floor(exp(u * ln(V+1))) - 1 gives a
    # log-uniform (Zipf(1)-like) rank distribution, deterministic and skewed.
    pos = F.explode(F.sequence(F.lit(0), F.col("n_tok") - 1)).alias("pos")
    toks = df.select("fid", "repo", "path", pos)
    u = (F.abs(F.xxhash64(F.lit(seed), F.col("fid"), F.col("pos"))) % F.lit(2**52)) / F.lit(float(2**52))
    # log-uniform rank in [0, vocab): heavy head, long tail
    rank = F.floor(F.exp(u * F.log(F.lit(float(vocab_size + 1))))) - 1
    toks = toks.withColumn("tok", F.concat(F.lit("tok"), rank.cast("string")))
    # order-deterministic content: collect (pos, tok) structs, sort by pos
    content = toks.groupBy("fid", "repo", "path").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("content")
    )
    return content.select(
        "repo",
        "path",
        F.sha2(F.concat_ws("|", "repo", "path"), 256).substr(1, 12).alias("commit"),
        F.element_at(
            F.array(*[F.lit(l) for l in langs]),
            ((F.xxhash64(F.lit(seed), F.col("repo"), F.col("path")) % len(langs) + len(langs)) % len(langs) + 1).cast("int"),
        ).alias("lang"),
        "content",
    )
