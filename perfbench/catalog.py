"""Which workload owns each metric. BENCHMARK.json at the repo root names
the workloads and the metrics with their units and direction; this module
says only which workload measures what."""

# first component of a per-layer metric's name -> the workload whose traced
# run measures it; the other workload's traced run reports it as 0
LAYERS = {
    "etl_small": ("pipeline", "ingest", "normalize", "events_write", "analytic", "sink", "trace"),
    "serve_mutate": ("serve", "plans", "mutate", "snapshot_read", "cluster_write",
                     # ops whose tracing overhead is reported
                     "serve_pass", "delete_dv", "delete_copy", "merge"),
}

# per-op figures printed (not in the result line) by untraced runs:
# (sample name, label, unit)
OP_FIGURES = {
    "etl_small": (("pipeline", "pipeline_s", "s"),),
    "serve_mutate": (
        ("serve_pass", "serve_pass_s", "s"),
        ("delete_dv", "delete_dv_s", "s"),
        ("delete_copy", "delete_copy_s", "s"),
        ("merge", "merge_s", "s"),
        ("snapshot_read", "snapshot_read_s", "s"),
        ("snapshot_read.table_mb", "table_mb", "MB"),
    ),
}


def owner(name):
    """The workload that measures per-layer metric `name`, or None;
    `trace_overhead.<op>_s` belongs to the workload that runs <op>."""
    head, _, rest = name.partition(".")
    if head == "trace_overhead" and rest.endswith("_s"):
        head = rest[:-2]
    for workload, layers in LAYERS.items():
        if head in layers:
            return workload
    return None
