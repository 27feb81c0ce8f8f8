"""Per-layer metrics of a traced run: spans folded with the event log.

Span names are ``<layer>.<part>``; the metric names of BENCHMARK.json's
``per_layer`` list are built from them here. A layer the workload does
not exercise is left out and reported as 0 by the caller.
"""

from __future__ import annotations

import sys

import tracing as T


def fold(wl, m: dict, spans: list[T.Span], log_dir: str, cores: int) -> dict:
    work = T.fold(log_dir, spans)
    T.dump(spans, work, sys.stdout)

    def dur(pred) -> float:
        return sum(s.end - s.start for s in spans if pred(s.name))

    def spark_work(pred) -> T.SpanWork:
        total = T.SpanWork()
        for s in spans:
            if pred(s.name):
                total = total.add(work[s.sid])
        return total

    def named(name):
        return lambda n: n == name

    def under(prefix):
        return lambda n: n.startswith(prefix)

    op = T.inclusive(work, spans, m["_op_span"])
    out = {
        "spark.jobs": op.jobs, "spark.stages": op.stages, "spark.tasks": op.tasks,
        "spark.task_s": op.task_s, "spark.gc_s": op.gc_s,
        "spark.shuffle_read_bytes": op.shuffle_read,
        "spark.shuffle_write_bytes": op.shuffle_write,
        "spark.spill_bytes": op.spill, "spark.skew_max": op.skew,
    }
    if "_pipeline_span" in m:  # the feed
        out["docs.decode_s"] = dur(named("docs.decode"))
        out["docs.decode_task_s"] = spark_work(named("docs.decode")).task_s
        out["docs.decode_rows"] = m["docs.decode_rows"]
        for stage in ("stops", "stations"):
            out[f"gtfs.{stage}_s"] = dur(named(f"gtfs.{stage}"))
        gtfs = spark_work(under("gtfs."))
        out.update({"gtfs.jobs": gtfs.jobs, "gtfs.shuffle_bytes": gtfs.shuffle_write,
                    "gtfs.skew": gtfs.skew})
        for stage in ("align", "interp"):
            out[f"sched.{stage}_s"] = dur(named(f"sched.{stage}"))
        out["sched.align_rows"] = m["sched.align_rows"]
        out["sched.skew"] = spark_work(under("sched.")).skew

        st = m["_catalog_stats"]
        stages = st["written"] + st["reused"]
        writes = spark_work(named("ckpt.write"))
        out.update({
            "ckpt.write_s": dur(named("ckpt.write")), "ckpt.read_s": dur(named("ckpt.read")),
            "ckpt.stages_written": st["written"], "ckpt.stages_reused": st["reused"],
            "ckpt.reuse_ratio": st["reused"] / stages,
            "ckpt.bytes_written": st["bytes_written"],
            # the manifest's per-partition row counts and checksums are
            # one collect after each stage's parquet write
            "ckpt.manifest_jobs": sum(c.startswith("collect at") for c in writes.callsites),
            "ckpt.catalog_bytes": m["ckpt.catalog_bytes"],
        })
        out.update({
            "sink.validate_s": dur(named("sink.validate")), "sink.zip_s": dur(named("sink.zip")),
            "sink.jobs": spark_work(named("sink.zip")).jobs,
            "sink.csv_bytes": m["sink.csv_bytes"], "sink.zip_bytes": m["sink.zip_bytes"],
        })
        # the runner's share of the real op: the op's work less the
        # validator's and the sink's, which the replay measured on their
        # own (the replayed runner's spans add one materialization per
        # written stage, so its own totals are not the op's)
        sink = spark_work(lambda n: n in ("sink.validate", "sink.zip"))
        op_span = m["_op_span"]
        out.update({
            "pipeline.jobs": op.jobs - sink.jobs, "pipeline.stages": op.stages - sink.stages,
            "pipeline.tasks": op.tasks - sink.tasks,
            "pipeline.idle_core_s": (op_span.end - op_span.start) * cores - op.task_s,
        })
    else:  # the query mix
        for kind, q in wl.names:
            out[f"{kind}.{q}.s"] = dur(under(f"{kind}.{q}."))
            if kind == "geo":
                out[f"geo.{q}.build_jobs"] = spark_work(named(f"geo.{q}.build")).jobs
        geo, text = spark_work(under("geo.")), spark_work(under("text."))
        out.update({
            "geo.shuffle_bytes": geo.shuffle_write, "geo.skew": geo.skew,
            "text.build_jobs": spark_work(lambda n: n.startswith("text.") and n.endswith(".build")).jobs,
            "text.shuffle_bytes": text.shuffle_write, "text.spill_bytes": text.spill,
        })
    return out
