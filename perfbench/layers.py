"""Per-layer table of a traced run, as markdown."""
import statistics

LAYERS = [
    ("Spark scheduler (ElbPipeline.run span, or the query_mix pass span)", "spark."),
    ("sources: gzip read", "sources.read."),
    ("sources: geo", "sources.geo."),
    ("sources: sinks", "sources.sink."),
    ("operators.ElbParser", "ElbParser."),
    ("operators.GeoCache", "GeoCache."),
    ("operators.Sessionize / Rolling", ("Sessionize.", "Rolling.")),
    ("operators.Aggregates", "Aggregates."),
    ("ElbPipeline", "ElbPipeline."),
    ("queries (query_mix)", "queries."),
    ("trace", "trace."),
]

SPAN_COLS = ["seconds", "spark.jobs", "spark.stages", "spark.tasks",
             "spark.task_s", "spark.par_eff", "spark.driver_gap_s",
             "spark.shuffle_write_bytes", "spark.task_skew"]


def fmt(v):
    if isinstance(v, float) and not v.is_integer():
        return f"{v:.4g}"
    return f"{int(v)}" if isinstance(v, (int, float)) else str(v)


def table(res):
    info, layer = res["info"], res["per_layer"]
    out = [f"# perfbench per-layer report: {info['workload']} (seed {info['seed']})",
           "",
           f"cores={info['cores']} calib_1t={info['calib_1t']:.3f}s "
           f"calib_mt={info['calib_mt']:.3f}s; values are medians over "
           "traced batches or passes", ""]
    for title, prefix in LAYERS:
        rows = sorted(k for k in layer if k.startswith(prefix))
        if not rows:
            continue
        out += [f"## {title}", "", "| metric | value |", "|---|---|"]
        out += [f"| {k} | {fmt(layer[k])} |" for k in rows]
        out.append("")
    by_name = {}
    for s in res["spans"]:
        by_name.setdefault(s["name"], []).append(s)
    out += ["## Spans (median over traced batches or passes)", "",
            "| span | " + " | ".join(SPAN_COLS) + " |",
            "|---" * (len(SPAN_COLS) + 1) + "|"]
    for name, spans in by_name.items():
        cells = [fmt(statistics.median(s[c] for s in spans)) for c in SPAN_COLS]
        out.append(f"| {name} | " + " | ".join(cells) + " |")
    out.append("")
    return "\n".join(out)
