#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Usage: python3 perfbench/gen.py --seed N --out DIR [--what report,mixed,graph]

Writes, under DIR (the same seed always gives byte-identical files):

  report/edges.txt        SNAP text edge list, Zipf in-degree, with '#'
                          comment lines, blank lines and malformed lines
  report/counts.tsv       exact per-paper citation counts (paper_id order)
  report/degree.tsv       exact in-degree histogram (citations order)
  report/report.txt       byte-exact top-30 report, pinned timestamp
  mixed/...               the same four files for the smaller edge list the
                          interactive clients of `mixed_session` report on
  graph/lineitem.parquet  lineitem-shaped edge table (l_orderkey "cites"
                          l_partkey) with the key shape of the
                          repository's lineitem testdata (TESTDATA.md)

The expected answers are computed here, independently of the program: the
counts straight from the generated edges, the report with the reference's
layout and tie-break (citations descending, paper id ascending as a string).
"""
import argparse
import os

import numpy as np

GENERATED_ON = "2001-01-01 00:00:00"

# Sizes. `report` is scan/parse/shuffle-bound; `mixed` is the small file the
# interactive clients report on; `graph` is the lineitem-shaped table the
# iterative operators read (4 lines per order, 30 lines per part, as in the
# lineitem testdata).
SIZES = {
    "report": dict(edges=1_500_000, papers=100_000),
    "mixed": dict(edges=200_000, papers=20_000),
    "graph": dict(edges=30_000),
}
ZIPF_A = 0.9          # hottest paper holds ~4-5% of all edges
MALFORMED_SHARE = 0.003
ID_SPACE = 10_000_000  # paper ids are 7-digit strings, leading zeros kept


def _ids(rng, n):
    """n distinct 7-digit id strings as a (n, 7) uint8 digit matrix."""
    # affine permutation of the id space: distinct by construction
    while True:
        mult = int(rng.integers(1_000_003, ID_SPACE))
        if mult % 2 and mult % 5:
            break
    off = int(rng.integers(0, ID_SPACE))
    vals = (np.arange(n, dtype=np.int64) * mult + off) % ID_SPACE
    digits = np.empty((n, 7), dtype=np.uint8)
    v = vals.copy()
    for i in range(6, -1, -1):
        digits[:, i] = ord("0") + v % 10
        v //= 10
    return digits


def format_report(top, generated_on=GENERATED_ON):
    """The reference report layout (rank, paper id, citations with a
    thousands separator), byte for byte."""
    out = ["=" * 50, "Top 30 Most Cited Papers", "=" * 50, "",
           "%-6s%-15s%10s" % ("Rank", "Paper ID", "Citations"), "-" * 31]
    for rank, (pid, n) in enumerate(top, 1):
        out.append("%-6s%-15s%10s" % (rank, pid, f"{n:,}"))
    out += ["", "-" * 31, f"Generated on: {generated_on}", ""]
    return "\n".join(out)


def snap_edges(seed, out_dir, edges, papers):
    rng = np.random.default_rng([seed % 2**32, 1])
    ids = _ids(rng, papers)
    p = np.arange(1, papers + 1, dtype=np.float64) ** -ZIPF_A
    p /= p.sum()
    dst = rng.choice(papers, size=edges, p=p)
    # plant an exact count tie inside the top 30 so the report exercises
    # the ascending-id tie-break: paper at rank 26 gets rank 25's count
    counts = np.bincount(dst, minlength=papers)
    id_str = np.array([r.tobytes().decode() for r in ids])
    order = np.lexsort((id_str, -counts))
    a, b = order[24], order[25]
    dst = np.concatenate([dst, np.full(counts[a] - counts[b], b)])
    rng.shuffle(dst)
    src = rng.integers(0, papers, size=dst.size)

    n = dst.size
    body = np.empty((n, 16), dtype=np.uint8)
    body[:, 0:7] = ids[src]
    body[:, 7] = ord("\t")
    body[:, 8:15] = ids[dst]
    body[:, 15] = ord("\n")

    # noise lines the reader must skip: comments, blanks, wrong field counts
    n_bad = int(n * MALFORMED_SHARE)
    at = np.sort(rng.integers(0, n, size=n_bad))
    kinds = rng.integers(0, 5, size=n_bad)
    noise = [b"# comment\n", b"\n", b"   \n", b"1234567\t7654321\t42\n",
             b"1234567 7654321\n"]
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, "edges.txt.tmp")
    with open(tmp, "wb") as f:
        f.write(b"# Directed graph (each unordered pair of nodes is saved once)\n"
                b"# Synthetic citation graph, seed %d\n"
                b"# Nodes: %d Edges: %d\n"
                b"# FromNodeId\tToNodeId\n" % (seed, papers, n))
        prev = 0
        for pos, k in zip(at.tolist(), kinds.tolist()):
            f.write(body[prev:pos].tobytes())
            f.write(noise[k])
            prev = pos
        f.write(body[prev:].tobytes())
    os.replace(tmp, os.path.join(out_dir, "edges.txt"))

    counts = np.bincount(dst, minlength=papers)
    cited = np.nonzero(counts)[0]
    by_id = cited[np.argsort(id_str[cited], kind="stable")]
    with open(os.path.join(out_dir, "counts.tsv"), "w") as f:
        f.writelines(f"{id_str[i]}\t{counts[i]}\n" for i in by_id)
    hist = np.bincount(counts[cited])
    with open(os.path.join(out_dir, "degree.tsv"), "w") as f:
        f.writelines(f"{c}\t{hist[c]}\n" for c in np.nonzero(hist)[0])
    order = np.lexsort((id_str, -counts))[:30]
    top = [(id_str[i], int(counts[i])) for i in order]
    with open(os.path.join(out_dir, "report.txt"), "w") as f:
        f.write(format_report(top))


def lineitem(seed, out_dir, edges):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng([seed % 2**32, 2])
    orders = rng.integers(0, edges // 4, size=edges, dtype=np.int64)
    parts = rng.integers(0, edges // 30, size=edges, dtype=np.int64)
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, "lineitem.parquet.tmp")
    pq.write_table(pa.table({"l_orderkey": orders, "l_partkey": parts}), tmp)
    os.replace(tmp, os.path.join(out_dir, "lineitem.parquet"))


def ensure(seed, out, what):
    """Generate the requested parts under `out` unless already there."""
    for part in what:
        d = os.path.join(out, part)
        stamp = os.path.join(d, ".done")
        if os.path.exists(stamp):
            continue
        if part == "graph":
            lineitem(seed, d, **SIZES[part])
        else:
            snap_edges(seed, d, **SIZES[part])
        open(stamp, "w").close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--what", default="report,mixed,graph")
    a = ap.parse_args()
    ensure(a.seed, a.out, a.what.split(","))


if __name__ == "__main__":
    main()
