"""First-fit-decreasing bin packing for small-file compaction.

north_star (BASELINE.json:6): "bin-packing small-file compaction
(first-fit-decreasing on file-size histograms)".

Driver-side planning (``ffd_pack``) is correct while the *file-stats
list* fits the driver (O(#files), tiny vs data, fine to ~10^6 entries).
For the 10^12-image story where even file counts explode,
``ffd_pack_distributed`` runs the packing on executors (SURVEY.md §7.3
risk 6).
"""

from __future__ import annotations


def ffd_pack(sizes: list[int], target: int) -> list[list[int]]:
    """Pack items (by index) into bins of capacity ``target`` using
    first-fit-decreasing. Items larger than target get singleton bins.
    Returns bins as lists of input indices; deterministic (stable sort by
    (-size, index))."""
    order = sorted(range(len(sizes)), key=lambda i: (-sizes[i], i))
    bins: list[list[int]] = []
    remaining: list[int] = []
    for i in order:
        s = sizes[i]
        placed = False
        for b in range(len(bins)):
            if remaining[b] >= s:
                bins[b].append(i)
                remaining[b] -= s
                placed = True
                break
        if not placed:
            bins.append([i])
            remaining.append(max(target - s, 0))
    return bins


def ffd_histogram(sizes: list[int], target: int, n_buckets: int = 16) -> dict[int, int]:
    """File-size histogram (equi-width up to target) — the planning input
    named by the north star; also exported to BENCH metrics."""
    hist: dict[int, int] = {}
    for s in sizes:
        b = min(int(s * n_buckets / max(target, 1)), n_buckets)
        hist[b] = hist.get(b, 0) + 1
    return hist


def ffd_pack_distributed(
    spark, files_df, target: int, shard_rows: int = 200_000, n_rows: int | None = None
):
    """Executor-side FFD for manifest scales where even the file-STATS list
    strains the driver (10^12 images → 10^7-10^8 manifest entries):

      1. hash-shard entries on file_path (stable across re-runs — resume
         determinism), ~``shard_rows`` entries per shard;
      2. FFD per shard via ``applyInPandas`` (pure-Python pack over a
         bounded pandas frame; one output row PER BIN, so the driver
         collects ~total_bytes/target rows, ~100× smaller than the entry
         list);
      3. one driver-side FFD over the shards' UNDERFULL bins (< target/2;
         the first-fit invariant guarantees AT MOST ONE such bin per shard,
         so this step sees ≤ n_shards items) merges cross-shard remainders.
         Bins in [target/2, target) pass through as-is — the standard FFD
         waste bound, not worth a second shuffle.

    Returns ``[(paths, bin_bytes), ...]``, deterministic: stable hash
    sharding + deterministic per-shard order + sorted merge.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    n = n_rows if n_rows is not None else files_df.count()
    n_shards = max(1, -(-n // shard_rows))
    sh = files_df.select(
        "file_path",
        "file_size_bytes",
        F.pmod(F.xxhash64("file_path"), F.lit(n_shards)).cast("int").alias("_shard"),
    )

    def _pack(key, pdf):
        pdf = pdf.sort_values(
            ["file_size_bytes", "file_path"], ascending=[False, True]
        ).reset_index(drop=True)
        sizes = pdf["file_size_bytes"].tolist()
        paths = pdf["file_path"].tolist()
        rows = [
            (
                int(key[0]),
                bid,
                [paths[i] for i in b],
                int(sum(sizes[i] for i in b)),
            )
            for bid, b in enumerate(ffd_pack(sizes, target))
        ]
        return pd.DataFrame(rows, columns=["shard", "bin_id", "paths", "bin_bytes"])

    packed = sorted(
        sh.groupBy("_shard")
        .applyInPandas(_pack, "shard int, bin_id int, paths array<string>, bin_bytes long")
        .collect(),
        key=lambda r: (r["shard"], r["bin_id"]),
    )
    full = [
        (list(r["paths"]), int(r["bin_bytes"]))
        for r in packed
        if r["bin_bytes"] * 2 >= target
    ]
    under = [
        (list(r["paths"]), int(r["bin_bytes"]))
        for r in packed
        if r["bin_bytes"] * 2 < target
    ]
    for b in ffd_pack([u[1] for u in under], target):
        paths = [p for i in b for p in under[i][0]]
        full.append((paths, sum(under[i][1] for i in b)))
    return full
