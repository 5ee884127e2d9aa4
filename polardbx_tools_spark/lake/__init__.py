from polardbx_tools_spark.lake.table import LakeTable, Snapshot
from polardbx_tools_spark.lake.merge import merge_into, MergeStats
from polardbx_tools_spark.lake.multi import MultiApplyStats, resume_offsets

__all__ = [
    "LakeTable", "Snapshot", "merge_into", "MergeStats",
    "resume_offsets", "MultiApplyStats",
]
