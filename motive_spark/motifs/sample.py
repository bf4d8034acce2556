"""Seeded sampling of connected k-node subgraphs, in two regimes.

Replaces SimpleSubgraphGenerator (UPlainMotifExtractor.java:135-136).
Each sample starts at a seed vertex and grows by ``k-1`` rounds:

  round t: every member's neighbors not yet in the sample are the
  candidates; the sample takes the ONE candidate with the minimum
  (xxhash64(sample, round, candidate, seed), candidate) (uniform over
  the candidate set, deterministic given the seed).

* **Distributed** (:func:`sample_connected_subgraphs`,
  :func:`induced_masks`): one frontier join + min-hash aggregation per
  round over the symmetric edge table, each round's state a
  ``localCheckpoint`` that the next round releases.  The per-round join
  touches n_samples * avg_degree rows; hubs fan out but the per-sample
  min-hash aggregation is a groupBy with map-side partial min —
  skew-safe.
* **Driver-local** (:func:`sample_local`, :func:`induced_masks_local`):
  the same rounds in numpy over a CSR of the collected edges, every
  growing sample of a sample-id chunk gathered and reduced at once
  (CSR gather + ``lexsort``).  :func:`xxhash64` ports Spark's XXH64 to
  wrapping uint64 arithmetic, so the local samples are bit-identical to
  the distributed ones and the regime switch cannot change results.

``MotifExtractor`` picks the regime: driver-local for unlabeled graphs
of at most ``graph.local.LOCAL_SCORE_THRESHOLD`` edge rows with non-null
integral ids, distributed otherwise.

Correctness contract (SURVEY §7.3-5): occurrences are connected induced
subgraphs, deterministic under a fixed seed; the exact sampling
distribution need not byte-match the reference's RNG — extractor
invariants + motif-injection recovery are the tests, mirroring the
reference's own (UPlainMotifExtractorTest.java:84-150).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from motive_spark.checkpoint import CheckpointManager
from motive_spark.graph.normalize import dense_index


def seed_states(
    verts: DataFrame,
    n: int,
    n_samples: int,
    min_size: int,
    max_size: int,
    seed: int,
    vidx: DataFrame | None = None,
) -> DataFrame:
    """Initial sampler state: (occ_id, k, vertices=[seed vertex]).

    Seed vertices are uniform-with-replacement over the vertex set:
    sample i draws index ``xxhash64(i, seed) mod n`` and is mapped to the
    vertex of that dense rank.  The rank comes from the two-phase
    :func:`dense_index` (per-partition offsets — identical values to a
    global ``row_number`` window, but no single-partition sort), and the
    samples→vertex mapping is a plain equi-join on the index so Catalyst/
    AQE picks broadcast vs shuffle from the actual |V| — no forced
    |V|-row broadcast.  ``vidx`` passes in an already built index of
    ``verts`` (its caller then owns the index's checkpoint).
    """
    spark = verts.sparkSession
    if vidx is None:
        vidx = dense_index(verts, "v")
    vidx = vidx.withColumnRenamed("id", "vix")
    samples = spark.range(n_samples).select(
        F.col("id").alias("occ_id"),
        (
            F.lit(min_size)
            + F.pmod(F.xxhash64("id", F.lit(seed), F.lit("k")), F.lit(max_size - min_size + 1))
        ).cast("int").alias("k"),
        F.pmod(F.xxhash64("id", F.lit(seed), F.lit("seed_v")), F.lit(n)).alias("vix"),
    )
    return samples.join(vidx, on="vix").select(
        "occ_id", "k", F.array("v").alias("vertices")
    )


def sample_connected_subgraphs(
    edges: DataFrame,
    n_samples: int,
    min_size: int = 3,
    max_size: int = 6,
    seed: int = 42,
    directed: bool = True,
) -> DataFrame:
    """Returns (occ_id: long, vertices: array<long> sorted, k: int).

    ``edges`` are the graph's edges (canonical src<dst rows if
    undirected).  Samples that get stuck before reaching their target
    size (isolated pockets) are dropped, like failed samples in the
    reference's rejection loop.

    The result reads one ``localCheckpoint`` and nothing else the
    sampler cached; the caller frees it with
    ``CheckpointManager._release`` once done with it.
    """
    spark = edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    release = CheckpointManager._release

    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(npart, "src")
        .cache()
    )
    verts = sym.select(F.col("src").alias("v")).distinct()
    n = verts.count()
    if n == 0:
        sym.unpersist()
        return spark.createDataFrame([], "occ_id long, vertices array<long>, k int")

    vidx = dense_index(verts, "v")
    state = seed_states(
        verts, n, n_samples, min_size, max_size, seed, vidx=vidx
    ).localCheckpoint(eager=True)
    release(vidx)

    for t in range(1, max_size):
        grow = state.where(F.size("vertices") < F.col("k"))
        done = state.where(F.size("vertices") >= F.col("k"))
        if grow.isEmpty():
            break
        frontier = (
            grow.select("occ_id", "k", "vertices", F.explode("vertices").alias("v"))
            .join(sym, on=[F.col("v") == sym.src])
            .where(~F.array_contains("vertices", F.col("dst")))
        )
        picked = (
            frontier.groupBy("occ_id")
            .agg(
                F.min(
                    F.struct(
                        F.xxhash64("occ_id", F.lit(t), F.col("dst"), F.lit(seed)).alias("h"),
                        F.col("dst").alias("pick"),
                    )
                ).alias("sel")
            )
            .select("occ_id", F.col("sel.pick").alias("pick"))
        )
        grown = (
            grow.join(picked, on="occ_id", how="inner")
            .select(
                "occ_id",
                "k",
                F.array_sort(F.concat("vertices", F.array("pick"))).alias("vertices"),
            )
        )
        # stuck samples (no candidates at all) are dropped
        new = done.unionByName(grown).localCheckpoint(eager=True)
        release(state)  # superseded round
        state = new

    sym.unpersist()
    return state.where(F.size("vertices") == F.col("k")).select(
        "occ_id", F.array_sort("vertices").alias("vertices"), "k"
    )


def induced_masks(
    occurrences: DataFrame, edges: DataFrame, directed: bool = True
) -> DataFrame:
    """Attach the induced-subgraph adjacency bitmask to each occurrence.

    Returns (occ_id, vertices, k, mask: long, m_induced: long).
    Explodes each occurrence into its ordered vertex pairs and joins the
    edge table — the induced subgraph is exactly the hit set
    (label-blind, Graphs.blank semantics — Synthetic.java:105).
    """
    pos = occurrences.select(
        "occ_id", "k", F.posexplode("vertices").alias("p", "vtx")
    )
    a = pos.select("occ_id", "k", F.col("p").alias("pi"), F.col("vtx").alias("vi"))
    b = pos.select(
        F.col("occ_id").alias("occ_id_b"),
        F.col("p").alias("pj"),
        F.col("vtx").alias("vj"),
    )
    pairs = a.join(b, on=[a.occ_id == b.occ_id_b]).where(F.col("pi") != F.col("pj"))
    if not directed:
        # vertices are sorted, so pi < pj ⟺ vi < vj: join against the
        # canonical (least, greatest) orientation regardless of input order
        pairs = pairs.where(F.col("pi") < F.col("pj"))
        e = edges.select(
            F.least("src", "dst").alias("vi"), F.greatest("src", "dst").alias("vj")
        ).dropDuplicates()
    else:
        # dropDuplicates matches the undirected branch: duplicate input
        # edges would otherwise make the bit-sum carry (2^b + 2^b = 2^(b+1))
        # and silently corrupt the adjacency mask
        e = edges.select(
            F.col("src").alias("vi"), F.col("dst").alias("vj")
        ).dropDuplicates()
    hits = pairs.join(e, on=["vi", "vj"]).select(
        "occ_id",
        "k",
        "pi",
        "pj",
    )
    # 2^(pi*k+pj) — exact in double for exponents <= 62 (max here:
    # i*k+j <= 7*8+6 = 62 at MAX_K=8 since i != j)
    def _bit(pi, pj):
        return F.pow(F.lit(2.0), (F.col(pi) * F.col("k") + F.col(pj)).cast("double")).cast("long")

    if directed:
        bit = _bit("pi", "pj")
    else:
        # k <= 8 rows use the symmetric k*k-bit layout; k in 9..11 rows
        # switch to upper-triangle packing (bit ut(i,j), i<j — max
        # exponent C(11,2)-1 = 54, exact in double), mirroring
        # motifs.canon.edges_to_mask's per-k dispatch
        ut = (
            F.col("pi") * (2 * F.col("k") - F.col("pi") - 1) / 2
            + (F.col("pj") - F.col("pi") - 1)
        ).cast("double")
        bit = F.when(
            F.col("k") <= 8, _bit("pi", "pj") + _bit("pj", "pi")
        ).otherwise(F.pow(F.lit(2.0), ut).cast("long"))
    hits = hits.select("occ_id", bit.alias("bit"), F.lit(1).alias("cnt"))
    agg = hits.groupBy("occ_id").agg(
        F.sum("bit").alias("mask"), F.sum("cnt").alias("m_induced")
    )
    return occurrences.join(agg, on="occ_id", how="inner")


# --- driver-local regime ----------------------------------------------------

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_U32 = np.uint64(0xFFFFFFFF)

# rows (member x neighbor candidates) one sampling round gathers at once
_ROUND_ROWS = 1 << 21


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return h ^ (h >> np.uint64(32))


def _hash_int(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64.hashInt: ``v`` holds the int's low 32 bits."""
    h = seed + _P5 + np.uint64(4)
    h = h ^ (v & _U32) * _P1
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def _hash_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64.hashLong."""
    h = seed + _P5 + np.uint64(8)
    h = h ^ _rotl(v * _P2, 31) * _P1
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _hash_bytes(b: bytes, seed: np.ndarray) -> np.ndarray:
    """XXH64.hashUnsafeBytes for inputs under 32 bytes (the literals)."""
    if len(b) >= 32:
        raise ValueError("literals of 32+ bytes are not supported")
    h = seed + _P5 + np.uint64(len(b))
    for off in range(0, len(b) - 7, 8):
        w = np.uint64(int.from_bytes(b[off : off + 8], "little"))
        h = h ^ _rotl(w * _P2, 31) * _P1
        h = _rotl(h, 27) * _P1 + _P4
    off = len(b) & ~7
    if off + 4 <= len(b):
        w = np.uint64(int.from_bytes(b[off : off + 4], "little"))
        h = _rotl(h ^ w * _P1, 23) * _P2 + _P3
        off += 4
    for byte in b[off:]:
        h = _rotl(h ^ np.uint64(byte) * _P5, 11) * _P1
    return _fmix(h)


def xxhash64(*cols) -> np.ndarray:
    """numpy twin of Spark's ``F.xxhash64(*cols)``, as signed int64.

    Each argument is hashed the way Spark hashes the matching column:
    an int64 array as a long column, an int32 array as an int column, a
    Python int as ``F.lit`` types it (int if it fits in 32 bits, else
    long), a str as a UTF-8 string literal.  The chain seed starts at
    42 and each hash seeds the next, as in Spark's ``XxHash64``.
    """
    with np.errstate(over="ignore"):
        h = np.full(1, 42, dtype=np.uint64)
        for c in cols:
            if isinstance(c, str):
                h = _hash_bytes(c.encode("utf-8"), h)
            elif isinstance(c, int):
                if -(1 << 31) <= c < (1 << 31):
                    h = _hash_int(np.uint64(c & 0xFFFFFFFF), h)
                else:
                    h = _hash_long(np.uint64(c & 0xFFFFFFFFFFFFFFFF), h)
            else:
                a = np.asarray(c)
                if a.dtype == np.int32:
                    h = _hash_int(a.astype(np.int64).view(np.uint64), h)
                elif a.dtype == np.int64:
                    h = _hash_long(a.view(np.uint64), h)
                else:
                    raise TypeError(f"unsupported dtype {a.dtype}")
        return h.view(np.int64)


def symmetric_csr(src: np.ndarray, dst: np.ndarray):
    """(ids, indptr, nbr): the sampler's symmetric simple graph — both
    directions of every non-loop edge, deduplicated — as a CSR over
    dense indices into the sorted vertex ids ``ids``."""
    keep = src != dst
    a = np.concatenate([src[keep], dst[keep]])
    b = np.concatenate([dst[keep], src[keep]])
    ids, ai = np.unique(a, return_inverse=True)
    bi = np.searchsorted(ids, b)
    order = np.lexsort((bi, ai))
    ai, bi = ai[order], bi[order]
    new = np.ones(len(ai), dtype=bool)
    new[1:] = (ai[1:] != ai[:-1]) | (bi[1:] != bi[:-1])
    ai, bi = ai[new], bi[new]
    indptr = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(np.bincount(ai, minlength=len(ids)), out=indptr[1:])
    return ids, indptr, bi.astype(np.int64)


def sample_local(
    ids: np.ndarray,
    indptr: np.ndarray,
    nbr: np.ndarray,
    n_samples: int,
    min_size: int,
    max_size: int,
    seed: int,
    int_ids: bool = False,
):
    """Driver-local twin of :func:`sample_connected_subgraphs` over the
    CSR of :func:`symmetric_csr`; returns the same samples.

    Returns (occ_id, k, members): ``members[i, :k[i]]`` are the dense
    indices of sample i's vertices (unsorted), stuck samples dropped.
    ``int_ids`` hashes candidates as int columns (both input columns
    narrower than long), as Spark does.
    """
    n = len(ids)
    occ = np.arange(n_samples, dtype=np.int64)
    k = min_size + np.mod(xxhash64(occ, seed, "k"), max_size - min_size + 1)
    members = np.full((n_samples, max_size), -1, dtype=np.int64)
    members[:, 0] = np.mod(xxhash64(occ, seed, "seed_v"), n)
    alive = np.ones(n_samples, dtype=bool)
    deg = np.diff(indptr)
    cand_ids = ids.astype(np.int32) if int_ids else ids
    for t in range(1, max_size):
        # every live sample below its size has grown in each earlier
        # round, so it holds exactly t members now
        grow = np.flatnonzero(alive & (k > t))
        if len(grow) == 0:
            break
        # sample-id chunks of about _ROUND_ROWS gathered rows each
        rows_per = deg[members[grow, :t]].sum(axis=1)
        part = (np.cumsum(rows_per) - rows_per) // _ROUND_ROWS
        for g in np.split(grow, np.flatnonzero(np.diff(part)) + 1):
            mem = members[g, :t]
            flat = mem.ravel()
            cnt = deg[flat]
            row = np.repeat(np.repeat(np.arange(len(g)), t), cnt)
            start = np.repeat(indptr[flat] - (np.cumsum(cnt) - cnt), cnt)
            cand = nbr[start + np.arange(len(start))]
            fresh = ~(mem[row] == cand[:, None]).any(axis=1)
            row, cand = row[fresh], cand[fresh]
            h = xxhash64(occ[g][row], t, cand_ids[cand], seed)
            order = np.lexsort((cand, h, row))
            row, cand = row[order], cand[order]
            first = np.ones(len(row), dtype=bool)
            first[1:] = row[1:] != row[:-1]
            row, cand = row[first], cand[first]
            stuck = np.ones(len(g), dtype=bool)
            stuck[row] = False
            alive[g[stuck]] = False
            members[g[row], t] = cand
    live = np.flatnonzero(alive)
    return occ[live], k[live].astype(np.int32), members[live]


def induced_masks_local(
    members: np.ndarray, k: int, n: int, ekeys: np.ndarray, directed: bool
):
    """Driver-local twin of :func:`induced_masks` for the samples of one
    size ``k``: ``members`` is (S, k) sorted dense indices, ``ekeys`` the
    sorted unique ``a * n + b`` keys of the graph's non-loop edges
    (directed), or of their (min, max) orientation (undirected).

    Returns (mask: uint64, m_induced: int64), bit layout as
    :func:`motive_spark.motifs.canon.edges_to_mask`.
    """
    from motive_spark.motifs.canon import MAX_BRUTE_K, _ut_index

    mask = np.zeros(len(members), dtype=np.uint64)
    m_ind = np.zeros(len(members), dtype=np.int64)
    one = np.uint64(1)
    for i in range(k):
        for j in range(k) if directed else range(i + 1, k):
            if i == j:
                continue
            key = members[:, i] * n + members[:, j]
            pos = np.searchsorted(ekeys, key)
            hit = ekeys[np.minimum(pos, len(ekeys) - 1)] == key
            if directed or k <= MAX_BRUTE_K:
                bits = one << np.uint64(i * k + j)
                if not directed:
                    bits |= one << np.uint64(j * k + i)
            else:
                bits = one << np.uint64(_ut_index(i, j, k))
            mask |= np.where(hit, bits, np.uint64(0))
            m_ind += hit
    return mask, m_ind
