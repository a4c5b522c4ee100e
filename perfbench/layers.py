"""Per-layer metrics of a traced run.

Registry workloads: per query execution, the query function call
(``plans.build``: its time and the eager side jobs it starts), the
``collect`` (``exec.*``: time, jobs, stages, tasks, executor time, bytes)
and ``cache.release``.  Migrate: spans around the layer calls the
pipelines make (pack, sinks), per-pipeline Spark counters, and one
stand-alone probe per source and operator, each materialized to the
``noop`` sink.  Figures are summed over a pass and reported as the median
of the timed passes; a layer a workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import statistics

PER_LAYER = [
    ("session.start_s", "s"), ("fixtures.build_s", "s"),
    ("plans.build_s", "s"), ("plans.build_jobs", "count"),
    ("exec.collect_s", "s"), ("exec.jobs", "count"),
    ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.executor_run_s", "s"), ("exec.executor_cpu_s", "s"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.input_bytes", "bytes"),
    ("cache.release_s", "s"),
    ("sources.inventory_s", "s"), ("sources.acl_assemble_s", "s"),
    ("sources.read_amplification", "ratio"),
    ("operators.subtree_sizes_s", "s"), ("operators.pack_s", "s"),
    ("operators.extract_identities_s", "s"), ("operators.rewrite_acls_s", "s"),
    ("operators.remap_owner_group_s", "s"),
    ("sinks.filelists_write_s", "s"), ("sinks.acl_apply_s", "s"),
    ("sinks.create_directories_s", "s"), ("sinks.copy_files_s", "s"),
    ("sinks.requests", "count"), ("sinks.bytes_written", "bytes"),
    ("plans.generate_filelists_s", "s"), ("plans.acl_pipeline_s", "s"),
    ("plans.copy_pipeline_s", "s"),
    ("plans.generate_filelists.jobs", "count"),
    ("plans.acl_pipeline.jobs", "count"), ("plans.copy_pipeline.jobs", "count"),
]

# the pipelines whose reads make up sources.read_amplification, and the
# input files each reads
READS = {"plans.generate_filelists": ("blob_listing.json",),
         "plans.acl_pipeline": ("getfacl.txt", "identity_map.json")}


# stand-alone probes: (span name, builder of the DataFrame to materialize)
def _probes(m):
    from pyspark.sql import functions as F

    from databox_adls_loader_spark.operators.acl_rewrite import (
        extract_identities, normalize_root, rewrite_acls)
    from databox_adls_loader_spark.operators.aggregates import subtree_sizes
    from databox_adls_loader_spark.operators.joins import (
        lookup_identity, remap_owner_group)

    def rewrite():
        dim = m.identity_map()
        out = rewrite_acls(normalize_root(m.acl_records()), dim)
        out = lookup_identity(out, dim, "owner", "user")
        return lookup_identity(out, dim, "group", "group")

    return [
        ("sources.inventory_s", m.inventory),
        ("sources.acl_assemble_s", m.acl_records),
        ("operators.subtree_sizes_s",
         lambda: subtree_sizes(m.inventory().filter(~F.col("is_folder")))),
        ("operators.extract_identities_s",
         lambda: extract_identities(normalize_root(m.acl_records()))),
        ("operators.rewrite_acls_s", rewrite),
        ("operators.remap_owner_group_s",
         lambda: remap_owner_group(m.inventory(), m.identity_map())),
    ]


def migrate_probes(m, tracer) -> None:
    for name, build in _probes(m):
        with tracer.group(f"probe:{name}"), tracer.span(name):
            build().write.format("noop").mode("overwrite").save()


def _children(tracer, root: int) -> list[dict]:
    """Spans below span ``root`` (any depth)."""
    spans = tracer.spans
    out = []
    for s in spans:
        p = s["parent"]
        while p is not None and p != root:
            p = spans[p]["parent"]
        if p == root:
            out.append(s)
    return out


def per_layer(workload: str, wl, tracer, session_s: float):
    """Returns (metrics for the result line, counters for the trace file)."""
    from databox_adls_loader_spark.plans.queries import fixture_seconds

    passes = [i for i, s in enumerate(tracer.spans)
              if s["name"] == "pass" and s.get("timed")]
    rows = []              # one dict of summed figures per timed pass
    attributed = 0
    for p in passes:
        spans = _children(tracer, p)
        r: dict[str, float] = {}

        def add(key, v):
            r[key] = r.get(key, 0) + v
        exec_jobs = []
        for s in spans:
            d, name, jobs = s["end"] - s["start"], s["name"], s["job_ids"]
            if s["parent"] == p:     # each operation, and the checks
                attributed += len(jobs)
            if name == "plans.build":
                add("plans.build_s", d)
                add("plans.build_jobs", len(jobs))
            elif name == "exec.collect":
                add("exec.collect_s", d)
                exec_jobs += jobs
            elif name == "cache.release":
                add("cache.release_s", d)
            elif name.startswith("plans."):      # a migrate pipeline
                add(name + "_s", d)
                add(name + ".jobs", len(jobs))
                exec_jobs += jobs
                if name in READS:
                    b = tracer.job_counters(jobs)["input_bytes"]
                    add("__read_bytes", b)
                    add(f"__read_bytes:{name}", b)
            elif name.endswith("_s"):            # wrapped layer call
                add(name, d)
        c = tracer.job_counters(exec_jobs)
        for k in ("jobs", "stages", "tasks", "executor_run_s",
                  "executor_cpu_s", "shuffle_write_bytes", "input_bytes"):
            add(f"exec.{k}", c[k])
        rows.append(r)

    keys = {k for r in rows for k in r}
    med = {k: statistics.median(r.get(k, 0) for r in rows) for k in keys}
    for name, _ in _probes(wl) if workload == "migrate" else []:
        med[name] = statistics.median(tracer.seconds(name))
    med["session.start_s"] = session_s
    med["fixtures.build_s"] = sum(fixture_seconds().values())
    counters = {"timed_passes": len(passes),
                "jobs_attributed": attributed,
                "jobs_counted_by_scheduler": tracer.timed_jobs,
                "fixtures": fixture_seconds()}
    if attributed != tracer.timed_jobs:
        wl.problems.append(
            f"trace: {attributed} jobs attributed to layers, "
            f"{tracer.timed_jobs} counted by the scheduler")
    if workload == "migrate":
        size = {k: sum(os.path.getsize(os.path.join(wl.inputs, f)) for f in fs)
                for k, fs in READS.items()}
        med["sources.read_amplification"] = \
            med.pop("__read_bytes", 0) / sum(size.values())
        counters["read_amplification"] = {
            k: med.pop(f"__read_bytes:{k}", 0) / size[k] for k in READS}
        # the requests of the last pass as the program reports them (its
        # setAccessControl effects log, copy_pipeline's directory count,
        # the inventory's file rows: one copy each), against the records
        # the endpoints wrote
        with tracer.group("check:copies"):
            copies = wl.inventory().filter("NOT is_folder").count()
        issued = {**wl.issued[-1], "copy": copies}
        found = wl.sink_records()
        med["sinks.requests"] = sum(issued.values())
        med["sinks.bytes_written"] = wl.sink_bytes()
        counters["sink_requests_issued"] = issued
        counters["sink_records_in_files"] = found
        if found != issued:
            wl.problems.append(f"trace: the program issued {issued} sink "
                               f"requests, the sink files hold {found}")
        counters["tree"] = wl.tree.stats
    else:
        counters["queries"] = _per_query(tracer, passes)
    metrics = {name: {"value": med.get(name, 0), "unit": unit}
               for name, unit in PER_LAYER}
    return metrics, counters


def _per_query(tracer, passes) -> dict:
    """Each query's own figures in the first timed pass."""
    out: dict[str, dict] = {}
    for s in _children(tracer, passes[0]):
        q = s.get("query")
        if q is None:
            continue
        e = out.setdefault(q, {})
        e[s["name"] + "_s"] = round(s["end"] - s["start"], 4)
        if s["name"] == "plans.build":
            e["build_jobs"] = len(s["job_ids"])
        elif s["name"] == "exec.collect":
            e.update(tracer.job_counters(s["job_ids"]))
    return out
