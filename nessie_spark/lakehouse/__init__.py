"""Iceberg-style table format + maintenance jobs (the engine proper).

Modules:
- ``kernels``  vectorized pixel codecs/metrics (decode, encode, phash, PSNR)
- ``table``    table metadata: snapshots, manifests, atomic commits
- ``writer``   the one Arrow slice writer (driver, mapInArrow, applyInArrow)
- ``scan``     snapshot-pinned scan with manifest-stats file pruning
- ``compact``  FFD bin-packing small-file compaction (resumable)
- ``zorder``   Z-order (Morton) / Hilbert clustering rewrite
- ``manifest`` manifest rewrite via two-level tree aggregation
- ``expire``   snapshot expiry (BFS) + orphan-file GC
- ``merge``    copy-on-write MERGE INTO with matched-file pruning + salting
- ``lineage``  per-partition checkpoint manifest (resumability)
- ``verify``   grafted flaggers/scorers (row-set equality, PSNR, captions)
"""
