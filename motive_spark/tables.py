"""Table loaders and deterministic derived graphs.

Two graph sources:

1. ``copurchase_edges`` — the canonical benchmark graph derived from the
   driver's TPC-H-ish testdata: parts are vertices, an (undirected) edge
   connects two parts that co-occur in at least one order.  Deterministic,
   identically expressible in ANSI SQL (DuckDB oracle), and naturally
   triangle-rich / power-law-ish — a good stand-in for a repo-dependency
   graph at small SF.

2. ``synth_code_table`` — a seeded synthetic source-code table with the
   exact BASELINE.json input_hint shape ``(repo, path, commit, lang,
   content)``; ``motive_spark.extract`` turns it into a repo-dependency
   edge table (import extraction by JVM regex).  This is the shape the
   engine targets at 10^12-file scale; the testdata graph is the
   correctness-gate shape.

Reference analogue: Data.edgeListDirectedUnlabeledSimple (motive
Run.java:237) — parse, drop self-loops, dedupe multi-edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected simple edge table (src < dst, distinct) over parts.

    Edge (a, b) iff parts a and b appear in the same order.  The
    per-order self-join is bounded (orders have a handful of lines), so
    the join is cheap and shuffle-partitioned on l_orderkey; Catalyst
    reads only (l_orderkey, l_partkey) from parquet.

    Mirrors the reference's simple-graph load: multi-edges collapsed,
    self-loops dropped (Graphs.toSimpleDGraph, motive Compare.java:189).
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").dropDuplicates()
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, on="l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").cast("long").alias("src"),
            F.col("b.l_partkey").cast("long").alias("dst"),
        )
        .dropDuplicates()
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Both directions of an undirected edge table (for directed kernels)."""
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


# --- synthetic code table (BASELINE.json input_hint shape) -----------------

LANGS = ("python", "java", "go", "rust", "cpp")

# import-statement template per language; {mod} is the referenced repo name.
_IMPORT_TPL = {
    "python": "import {mod}",
    "java": "import {mod}.core.Api;",
    "go": '\t"{mod}/pkg"',
    "rust": "use {mod}::prelude::*;",
    "cpp": '#include <{mod}/api.h>',
}

_FILLER = (
    "def f(x): return x + 1",
    "// vectorized batch kernel",
    "let total = rows.iter().sum();",
    "for (int i = 0; i < n; i++) acc += v[i];",
    "SELECT 1; -- embedded query",
)


def synth_code_table(
    spark: SparkSession,
    n_repos: int = 64,
    files_per_repo: int = 16,
    imports_per_file: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Deterministic code table ``(repo, path, commit, lang, content)``.

    Built entirely JVM-side with seeded xxhash64-derived pseudo-randomness
    (no Python in the generator): file i of repo r imports
    ``imports_per_file`` other repos chosen by hashing (r, i, j, seed).
    Every row's content embeds its import lines in the language's syntax
    plus deterministic filler, so the regex extractor has realistic
    text to parse and sha256(content) is a stable per-row invariant.
    """
    n = n_repos * files_per_repo
    df = (
        spark.range(n)
        .withColumn("repo_id", (F.col("id") / files_per_repo).cast("long"))
        .withColumn("file_id", F.col("id") % files_per_repo)
        .withColumn(
            "lang_id",
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit("lang")), F.lit(len(LANGS))),
        )
    )
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), (F.col("lang_id") + 1).cast("int"))
    ext = F.element_at(
        F.array(*[F.lit(x) for x in ("py", "java", "go", "rs", "cc")]),
        (F.col("lang_id") + 1).cast("int"),
    )

    # imports: j = 0..imports_per_file-1, target repo hashed (never self)
    tgt = lambda j: F.pmod(  # noqa: E731
        F.xxhash64(F.col("id"), F.lit(seed), F.lit(j)), F.lit(n_repos - 1)
    )
    tgt_fixed = lambda j: F.when(tgt(j) >= F.col("repo_id"), tgt(j) + 1).otherwise(tgt(j))  # noqa: E731

    import_lines = []
    for j in range(imports_per_file):
        mod = F.concat(F.lit("repo_"), tgt_fixed(j).cast("string"))
        per_lang = F.create_map(
            *[
                x
                for l_ in LANGS
                for x in (
                    F.lit(l_),
                    F.concat(
                        F.lit(_IMPORT_TPL[l_].split("{mod}")[0]),
                        mod,
                        F.lit(_IMPORT_TPL[l_].split("{mod}")[1]),
                    ),
                )
            ]
        )
        import_lines.append(per_lang[lang])

    filler = F.element_at(
        F.array(*[F.lit(x) for x in _FILLER]), (F.col("lang_id") + 1).cast("int")
    )
    content = F.concat_ws(
        "\n",
        F.concat(F.lit("// file "), F.col("file_id").cast("string")),
        *import_lines,
        filler,
    )

    return df.select(
        F.concat(F.lit("repo_"), F.col("repo_id").cast("string")).alias("repo"),
        F.concat(
            F.lit("src/mod"),
            F.col("file_id").cast("string"),
            F.lit("/main."),
            ext,
        ).alias("path"),
        F.sha2(F.concat(F.lit("commit"), F.col("id").cast("string")), 256).alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed
    table — the co-located-join layout for 100-TB edge tables: two
    tables bucketed on the same join key by the same bucket count join
    WITHOUT a shuffle on either side (verified by the plan test), and
    repeated kernels over the same table skip the partitioning step
    every run.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table_name)


def read_table(spark: SparkSession, table_name: str) -> DataFrame:
    """Read back a managed (bucketed) table; Catalyst knows the bucket
    layout, so joins and aggregations on the bucket key need no
    exchange."""
    return spark.table(table_name)
