"""Null models: codelength of a whole graph in bits.

ER (Erdős–Rényi) and EL (edge-list / degree-sequence) models, the two
baselines of motive's fast path (ERSimpleModel / EdgeListModel, call
sites Compare.java:261-262, CompareLarge.java:188-189, Konect.java:419).
The model classes themselves live in the unvendored `nodes` dependency;
formulas follow the accompanying paper ("Compression as a Fast Measure
of Network Motif Relevance" — README.md:2, public literature):

* ER: store n (prefix code), store m (uniform over 0..maxlinks), then
  the graph uniformly among all simple graphs with (n, m):
      L = prefix(n) + log2(maxlinks + 1) + log2 C(maxlinks, m)
  with maxlinks = n(n-1) directed, n(n-1)/2 undirected.

* EL: store the degree sequence D, then the graph uniformly among edge
  lists consistent with D.  Directed:
      L(G|D) = log2 m! - sum_i log2(d_in(i)!) - sum_i log2(d_out(i)!)
  (write the m src tokens and m dst tokens; divide out permutations of
  identical tokens and of edge order).  Undirected:
      L(G|D) = log2 (2m)! - sum_i log2(d_i!) - log2 m! - m
  ML prior for D itself: empirical-distribution code
      L(D) = prefix(max_d) + n * H(empirical degree distribution)
  (constant across candidate motifs' baselines at fixed n; documented
  local choice, see codes.py module docstring).

All functions take plain numpy arrays / scalars so they run driver-side
for the two global baselines and inside vectorized pandas UDFs for the
per-motif subbed-graph terms.
"""

from __future__ import annotations

import numpy as np

from motive_spark.mdl.codes import log2_choose, log2_factorial, prefix_bits


def er_bits(n, m, directed: bool = True, with_prior: bool = True):
    """ER model codelength (ERSimpleModel semantics; static call shape
    ERSimpleModel.directed(n, m, withPrior) at MotifModel.java:604)."""
    n = np.asarray(n, dtype=np.float64)
    m = np.asarray(m, dtype=np.float64)
    maxlinks = n * (n - 1.0) if directed else n * (n - 1.0) / 2.0
    bits = log2_choose(m, maxlinks)
    if with_prior:
        bits = bits + prefix_bits(n) + np.log2(maxlinks + 1.0)
    return bits


def _degree_hist_entropy_bits(deg_values, deg_counts):
    """n * H(empirical) + prefix(max degree): ML code for the sequence."""
    deg_values = np.asarray(deg_values, dtype=np.float64)
    deg_counts = np.asarray(deg_counts, dtype=np.float64)
    n = deg_counts.sum()
    if n == 0:
        return 0.0
    p = deg_counts / n
    h = -np.sum(deg_counts * np.log2(np.where(p > 0, p, 1.0)))
    mx = deg_values.max() if deg_values.size else 0.0
    return float(prefix_bits(mx) + h)


def _hist_arrays(hist: dict[int, int]):
    """(degrees, counts) as float arrays in ascending degree order, so a
    histogram's codelength does not depend on the order its dict was
    filled in (float sums are not associative)."""
    items = sorted(hist.items())
    return (
        np.array([d for d, _ in items], dtype=np.float64),
        np.array([c for _, c in items], dtype=np.float64),
    )


def el_bits_directed(in_hist: dict[int, int], out_hist: dict[int, int], m: int):
    """EL codelength, directed.  ``in_hist``/``out_hist``: degree→count."""
    iv, ic = _hist_arrays(in_hist)
    ov, oc = _hist_arrays(out_hist)
    seq_bits = _degree_hist_entropy_bits(iv, ic) + _degree_hist_entropy_bits(ov, oc)
    graph_bits = (
        log2_factorial(m)
        - np.sum(ic * log2_factorial(iv))
        - np.sum(oc * log2_factorial(ov))
    )
    return float(seq_bits + graph_bits)


def el_bits_undirected(hist: dict[int, int], m: int):
    """EL codelength, undirected.  ``hist``: degree→count."""
    dv, dc = _hist_arrays(hist)
    seq_bits = _degree_hist_entropy_bits(dv, dc)
    graph_bits = (
        log2_factorial(2 * m)
        - np.sum(dc * log2_factorial(dv))
        - log2_factorial(m)
        - float(m)
    )
    return float(seq_bits + graph_bits)


def el_bits(degree_hists, m: int, directed: bool = True):
    """Dispatch: degree_hists = (in_hist, out_hist) if directed else hist."""
    if directed:
        in_hist, out_hist = degree_hists
        return el_bits_directed(in_hist, out_hist, m)
    return el_bits_undirected(degree_hists, m)
