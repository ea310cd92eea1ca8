"""Executed-plan helpers for the store-read pins: per-scan SQL metrics
and the Spark jobs a plan's construction launches."""

from __future__ import annotations


def scan_metrics(df, path_part: str) -> list[dict]:
    """SQL metrics of every executed parquet scan whose root path
    contains ``path_part``, read from ``df``'s executed plan — collect
    ``df`` first, so the metrics hold the run's values. Walks through
    adaptive-execution wrappers and query stages to the final plan.
    Keys are the metric names as the UI shows them ("number of files
    read", "number of partitions read", ...); each dict also carries
    the scan's partition filters under "partition_filters"."""
    out: list[dict] = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls == "FileSourceScanExec" and path_part in \
                node.relation().location().rootPaths().head().toString():
            metrics = node.metrics()
            names = metrics.keys().iterator()
            row = {}
            while names.hasNext():
                m = metrics.apply(names.next())
                row[m.name().get()] = m.value()
            row["partition_filters"] = node.partitionFilters().toString()
            out.append(row)
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def construction_jobs(spark, group: str, build) -> tuple[object, int]:
    """(build(), number of Spark jobs it launched): ``build`` runs under
    its own job group and the group's job ids are counted from the
    status tracker. Lazy plans launch none; every eager collect,
    ``first()`` or parquet schema inference shows up here."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "construction")
    try:
        out = build()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
