"""Layer A: the batch-pipeline framework (SURVEY.md §2.A).

Spark-native re-expression of the reference's job/target/expander/
build-graph/executor model (pub:builder/jobs.py, targets.py,
expanders.py, build.py, execution.py — public-repo citations, see
SURVEY.md §0):

- Target: a dataset path with identity + freshness (mtime/_SUCCESS).
  Versioning is target-owned: the base class is a plain target (no
  version, reads and writes ``unique_id``, no-op commit);
  ObjectStoreTarget swaps in Hadoop listings and VersionedTableTarget
  (``vt://``) snapshot manifests with recorded input versions, so the
  staleness predicate and the executors never branch on the flavor.
- TimestampExpander: target pattern + time range + step → concrete
  partition targets (the reference's strftime expansion; here it is
  also how partition pruning stays aligned with the physical layout).
- Job: declares dependencies and targets via expanders, and carries a
  ``run(ctx)`` callable producing a DataFrame instead of a shell
  command string — the command boundary of the reference becomes a
  parameterized Spark transformation.
- BuildManager/BuildGraph: rule graph → expanded concrete DAG
  (networkx), staleness & buildability predicates.
- ExecutionManager + SparkExecutor/PrintExecutor: one ready-set
  scheduler (``max_workers`` threads; 1 is the serial case) with
  retries; both executors build the job context through one function,
  so PrintExecutor's explain-only dry run sees the inputs a real run
  would read.
"""

from builder_spark.pipeline.core import (
    BuildManager,
    ConcurrentWriteError,
    ExecutionManager,
    Job,
    ObjectStoreTarget,
    VersionedTableTarget,
    PrintExecutor,
    SparkExecutor,
    Target,
    TimestampExpander,
    convert_to_timedelta,
    make_target,
)

__all__ = [
    "BuildManager",
    "ConcurrentWriteError",
    "ExecutionManager",
    "Job",
    "ObjectStoreTarget",
    "VersionedTableTarget",
    "PrintExecutor",
    "SparkExecutor",
    "Target",
    "TimestampExpander",
    "convert_to_timedelta",
    "make_target",
]
