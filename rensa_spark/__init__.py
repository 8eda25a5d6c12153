"""rensa_spark — a PySpark-native near-duplicate detection + clustering engine.

A from-scratch reimplementation of the query/data-processing capabilities of
the rensa sketching library (reference: /root/reference, rensa v0.4.0) as an
idiomatic Spark DataFrame pipeline:

- bit-exact numpy kernels for rensa's FxHash-compatible byte hash, R-MinHash,
  C-MinHash and Rho multi-probe sketches (``rensa_spark.kernels``),
- vectorized Arrow/pandas UDFs wrapping those kernels (``rensa_spark.functions``),
- distributed LSH banding / one-shot duplicate flagging / pair verification /
  connected-components clustering as DataFrame operators
  (``rensa_spark.operators``),
- checkpoint/resume pipeline driver with per-stage lineage metrics
  (``rensa_spark.plans``),
- Structured Streaming incremental dedup (``rensa_spark.streaming``).

Nothing here is a port of the reference's Rust execution engine: the Rust
chunking/threading/SIMD machinery is replaced by Spark partitioning, Arrow
batches and numpy vectorization. Only the *math* (hash constants, permutation
schemes, flag semantics) is reproduced, bit-for-bit, so that duplicate
decisions match the reference.
"""

import sys

from rensa_spark.config import RensaConfig

__all__ = ["RensaConfig"]
__version__ = "0.1.0"

# Inside a Spark Python worker (a task is running in this process), stop the
# per-task zip re-reads once; see rensa_spark/session.py. On the driver
# pyspark is not imported here and the import state is left alone.
_taskcontext = sys.modules.get("pyspark.taskcontext")
if _taskcontext is not None and _taskcontext.TaskContext.get() is not None:
    from rensa_spark.session import freeze_worker_zip_imports

    freeze_worker_zip_imports()
