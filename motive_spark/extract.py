r"""Repo-dependency edge extraction from a source-code table.

Input shape (BASELINE.json input_hint): ``(repo:string, path:string,
commit:string, lang:string, content:string)`` — at production scale an
Iceberg table of 10^12 files; here any DataFrame with those columns.

Pipeline (all JVM-side — no Python worker is started):
  1. ``with_sha`` — attach ``sha2(content, 256)`` so the per-row content
     invariant is carried through every derived table (input_hint).
  2. ``extract_imports`` — one ``regexp_extract_all`` per language,
     chosen by a ``CASE`` on ``lang``, yielding the distinct referenced
     module roots of each file (SURVEY §2.10-1).
  3. ``repo_edges`` — explode, resolve module root → repo name (identity
     mapping for the synthetic convention ``repo_<k>``; a join against a
     module-ownership table in production), aggregate to distinct
     ``(src_repo, dst_repo)`` with a file-count multiplicity.

The scan reads only (repo, path, lang, content) — column pruning reaches
the parquet/Iceberg scan because extraction is a projection of them.

The patterns are written for Java regex but match what Python's ``re``
matches on ``str`` patterns with ``re.M`` (tests/test_extract.py keeps
the Python originals as the reference):
  * ``\w`` is spelled ``[\p{L}\p{N}_]`` (Python: ``str.isalnum()`` or
    ``_``); Java's own ``\w``, with or without ``(?U)``, differs;
  * ``\s`` is ``[\s\x1c-\x1f]`` under ``(?U)`` (Python: ``str.isspace``,
    which also counts the four information separators);
  * either class may sit inside a ``[...]`` — Java reads the nested
    class as a union;
  * ``(?m)`` plus ``(?d)``: ``^`` matches only after ``\n``, not after
    ``\r``, U+0085 or U+2028/9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _java(pattern: str) -> str:
    """Java spelling of a Python ``re.M`` pattern (see the module notes)."""
    return "(?mdU)" + pattern.replace(r"\w", r"[\p{L}\p{N}_]").replace(
        r"\s", r"[\s\x1c-\x1f]"
    )


# language → regex capturing the referenced module root.  Pattern set is
# deliberately conservative: first path segment of import/include/use.
_LANG_PATTERNS = {
    lang: _java(p)
    for lang, p in {
        "python": r"^\s*(?:import|from)\s+([A-Za-z_][\w]*)",
        "java": r"^\s*import\s+(?:static\s+)?([A-Za-z_][\w]*)",
        "go": r'^\s*(?:import\s+)?"([\w.\-]+)(?:/[\w./\-]*)?"',
        "rust": r"^\s*use\s+([A-Za-z_][\w]*)",
        "cpp": r'^\s*#\s*include\s+[<"]([\w\-]+)(?:/[\w./\-]*)?[>"]',
    }.items()
}
_DEFAULT = _java(r"^\s*(?:import|include|use|require)\s+[\"'<]?([\w.\-]+)")


def with_sha(code: DataFrame) -> DataFrame:
    """Attach the per-row content invariant: sha256 of content."""
    return code.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def extract_imports(code: DataFrame) -> DataFrame:
    """(repo, path, module) — one row per referenced module root per file."""
    def found(pattern: str):
        return F.array_distinct(F.regexp_extract_all("content", F.lit(pattern), 1))

    modules = found(_DEFAULT)  # unknown or null lang
    for lang, pat in _LANG_PATTERNS.items():
        modules = F.when(F.col("lang") == lang, found(pat)).otherwise(modules)
    return code.select("repo", "path", F.explode(modules).alias("module"))


def repo_edges(
    code: DataFrame,
    module_owner: DataFrame | None = None,
) -> DataFrame:
    """Distinct repo-dependency edges (src_repo, dst_repo, n_files).

    ``module_owner``: optional (module, owner_repo) mapping table —
    broadcast-joined (it is the small dimension).  Without it, modules
    whose name matches a repo name resolve to that repo (the synthetic
    convention), via a semi-join against the distinct repo list.
    """
    imports = extract_imports(code)
    if module_owner is not None:
        resolved = imports.join(
            F.broadcast(module_owner), on=[imports.module == module_owner.module]
        ).select("repo", "path", F.col("owner_repo").alias("dst_repo"))
    else:
        repos = code.select("repo").distinct()
        resolved = imports.join(
            F.broadcast(repos.withColumnRenamed("repo", "dst_repo")),
            on=[imports.module == F.col("dst_repo")],
        ).select("repo", "path", "dst_repo")
    return (
        resolved.where(F.col("repo") != F.col("dst_repo"))
        .groupBy(F.col("repo").alias("src_repo"), "dst_repo")
        .agg(F.countDistinct("path").alias("n_files"))
    )


def dense_edge_table(code: DataFrame):
    """End-to-end: code table → dense-long edge DataFrame + vertex map.

    Returns (edges(src, dst), vertex_map(orig_key, id)), both
    materialized.  The code table is scanned and its imports extracted
    once: the named edges are checkpointed before ``normalize_ids``
    reads them three times (range sample, ranking, id join), and freed
    once the dense edges are.
    """
    from motive_spark.checkpoint import CheckpointManager
    from motive_spark.graph import normalize

    named = repo_edges(code).select(
        F.col("src_repo").alias("src"), F.col("dst_repo").alias("dst")
    ).localCheckpoint(eager=True)
    dense, vmap = normalize.normalize_ids(named)
    dense = dense.localCheckpoint(eager=True)
    CheckpointManager._release(named)
    return dense, vmap
