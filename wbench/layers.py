"""Per-layer metrics: the package's modules, measured from the spans of
the traced passes.

Every metric is a per-pass total (or a ratio of per-pass totals), and a
run reports the median over its traced passes. A layer a workload never
calls reads 0. ``METRICS`` is the single list of names, units and
directions; ``BENCHMARK.json``'s ``per_layer`` section mirrors it.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

QUERY_MODULES = (
    "relational", "windows", "scalars", "extensions", "textstats",
    "pipeline", "dedup", "similarity", "fts",
)
_MB = 1e6


def _metrics() -> list[tuple[str, str, str]]:
    m = [("session.start_s", "s", "lower")]
    for src in ("wikidata", "wikipedia"):
        m += [(f"sources.{src}.bytes_read_mb", "MB", "lower"), (f"sources.{src}.read_amp", "ratio", "lower")]
    for st in ("stage1", "stage2", "stage3"):
        m += [
            (f"plans.wiki.{st}.wall_s", "s", "lower"),
            (f"plans.wiki.{st}.cpu_s", "s", "lower"),
            (f"plans.wiki.{st}.jobs", "count", "lower"),
            (f"plans.wiki.{st}.shuffle_mb", "MB", "lower"),
            (f"plans.wiki.{st}.spill_mb", "MB", "lower"),
            (f"plans.wiki.{st}.rows_out", "count", "higher"),
        ]
    for api in ("load_entities", "alias_priors"):
        m += [
            (f"plans.wiki.{api}.wall_s", "s", "lower"),
            (f"plans.wiki.{api}.cpu_s", "s", "lower"),
            (f"plans.wiki.{api}.jobs", "count", "lower"),
            (f"plans.wiki.{api}.construct_s", "s", "lower"),
            (f"plans.wiki.{api}.rows_examined_per_row", "ratio", "lower"),
        ]
    m += [
        ("plans.kb.embed.wall_s", "s", "lower"),
        ("plans.kb.embed.python_s", "s", "lower"),
        ("plans.kb.collect.wall_s", "s", "lower"),
    ]
    for q in QUERY_MODULES:
        m += [
            (f"queries.{q}.construct_s", "s", "lower"),
            (f"queries.{q}.build_jobs_s", "s", "lower"),
            (f"queries.{q}.exec_s", "s", "lower"),
            (f"queries.{q}.cpu_s", "s", "lower"),
            (f"queries.{q}.jobs", "count", "lower"),
            (f"queries.{q}.shuffle_mb", "MB", "lower"),
            (f"queries.{q}.spill_mb", "MB", "lower"),
            (f"queries.{q}.python_s", "s", "lower"),
        ]
    m += [
        ("queries.similarity.rows_examined_per_row", "ratio", "lower"),
        ("queries.fts.rows_examined_per_row", "ratio", "lower"),
        ("catalog.index_cache.hits", "count", "higher"),
        ("catalog.index_cache.misses", "count", "lower"),
        ("catalog.index_cache.build_s", "s", "lower"),
        ("streaming.fts_ingest.append.wall_s", "s", "lower"),
        ("streaming.fts_ingest.append.write_amp", "ratio", "lower"),
        ("streaming.fts_ingest.search.wall_s", "s", "lower"),
        ("streaming.fts_ingest.search.files_read", "count", "lower"),
        ("streaming.fts_ingest.compact.wall_s", "s", "lower"),
        ("streaming.fts_ingest.compact.rewritten_mb", "MB", "lower"),
        ("streaming.ingest.append.wall_s", "s", "lower"),
        ("streaming.ingest.read.wall_s", "s", "lower"),
        ("streaming.ingest.compact.wall_s", "s", "lower"),
    ]
    return m


METRICS = _metrics()


def _children(spans) -> dict:
    kids = defaultdict(list)
    for sp in spans:
        kids[sp.parent].append(sp)
    return kids


def _descendants(sp, kids) -> list:
    out, stack = [], list(kids.get(sp.id, ()))
    while stack:
        s = stack.pop()
        out.append(s)
        stack.extend(kids.get(s.id, ()))
    return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def pass_layers(pass_span, spans_below, dump_bytes: dict, session_s: float) -> dict:
    """Every metric of ``METRICS`` for one traced pass."""
    v: dict[str, float] = defaultdict(float)
    v["session.start_s"] = session_s
    scan = pass_span.attrs.get("scan_b", {})
    for src, fmt in (("wikidata", "text"), ("wikipedia", "xml")):
        b = scan.get(fmt, 0.0)
        v[f"sources.{src}.bytes_read_mb"] = b / _MB
        v[f"sources.{src}.read_amp"] = _ratio(b, dump_bytes.get(src, 0))
    rows_in = defaultdict(float)
    rows_back = defaultdict(float)
    append_text = 0.0
    kids = _children(spans_below + [pass_span])
    for sp in spans_below:
        a, wall, n = sp.attrs, sp.t1 - sp.t0, sp.name
        if n.startswith("plans.wiki.stage"):
            v[f"{n}.wall_s"] += wall
            v[f"{n}.cpu_s"] += a["cpu_s"]
            v[f"{n}.jobs"] += a["jobs"]
            v[f"{n}.shuffle_mb"] += a["shuffle_b"] / _MB
            v[f"{n}.spill_mb"] += a["spill_b"] / _MB
            v[f"{n}.rows_out"] += a.get("rows_out", 0)
        elif n in ("plans.wiki.load_entities", "plans.wiki.alias_priors"):
            v[f"{n}.wall_s"] += wall
            v[f"{n}.cpu_s"] += a["cpu_s"]
            v[f"{n}.jobs"] += a["jobs"]
            v[f"{n}.construct_s"] += max(0.0, wall - a["job_wall_s"])
            rows_in[n] += a["input_records"]
            rows_back[n] += a.get("rows", a.get("rows_out", 0))
        elif n == "plans.kb.embed":
            v[f"{n}.wall_s"] += wall
            v[f"{n}.python_s"] += a["python_s"]
        elif n == "plans.kb.collect":
            v[f"{n}.wall_s"] += wall
        elif n.startswith("queries."):
            build = next((c for c in kids.get(sp.id, ()) if c.name == "build"), None)
            exe = next((c for c in kids.get(sp.id, ()) if c.name == "exec"), None)
            if build is not None:
                bw = build.t1 - build.t0
                v[f"{n}.construct_s"] += max(0.0, bw - build.attrs["job_wall_s"])
                v[f"{n}.build_jobs_s"] += min(bw, build.attrs["job_wall_s"])
            if exe is not None:
                v[f"{n}.exec_s"] += exe.t1 - exe.t0
            v[f"{n}.cpu_s"] += a["cpu_s"]
            v[f"{n}.jobs"] += a["jobs"]
            v[f"{n}.shuffle_mb"] += a["shuffle_b"] / _MB
            v[f"{n}.spill_mb"] += a["spill_b"] / _MB
            v[f"{n}.python_s"] += a["python_s"]
            rows_in[n] += a["input_records"]
            rows_back[n] += a.get("rows", 0)
        elif n == "catalog.index_cache":
            if a.get("hit"):
                v["catalog.index_cache.hits"] += 1
            else:
                v["catalog.index_cache.misses"] += 1
                v["catalog.index_cache.build_s"] += wall
        elif n == "streaming.fts_ingest.append":
            v[f"{n}.wall_s"] += wall
            rows_in[n] += a["output_b"]
            append_text += a.get("text_bytes", 0)
        elif n == "streaming.fts_ingest.search":
            v[f"{n}.wall_s"] += wall
            v[f"{n}.files_read"] += a["files_read"]
        elif n == "streaming.fts_ingest.compact":
            v[f"{n}.wall_s"] += wall
            v[f"{n}.rewritten_mb"] += a["output_b"] / _MB
        elif n.startswith("streaming.ingest."):
            v[f"{n}.wall_s"] += wall
    for n in ("plans.wiki.load_entities", "plans.wiki.alias_priors", "queries.similarity", "queries.fts"):
        v[f"{n}.rows_examined_per_row"] = _ratio(rows_in[n], rows_back[n])
    v["streaming.fts_ingest.append.write_amp"] = _ratio(
        rows_in["streaming.fts_ingest.append"], append_text
    )
    return {name: float(v.get(name, 0.0)) for name, _, _ in METRICS}


def per_layer(spans, workload, session_s: float) -> dict:
    """Median over the traced passes of each per-layer metric."""
    dumps = getattr(workload, "dumps", None)
    dump_bytes = (
        {"wikidata": dumps["wikidata_bytes"], "wikipedia": dumps["wikipedia_bytes"]}
        if dumps
        else {}
    )
    kids = _children(spans)
    per_pass = [
        pass_layers(sp, _descendants(sp, kids), dump_bytes, session_s)
        for sp in spans
        if sp.name == "pass" and sp.parent is None
    ]
    return {
        name: {"value": statistics.median(p[name] for p in per_pass), "unit": unit}
        for name, unit, _ in METRICS
    }


def coverage(spans) -> list[float]:
    """Per traced pass: the share of its wall time its direct child
    spans cover."""
    kids = _children(spans)
    out = []
    for sp in spans:
        if sp.name == "pass" and sp.parent is None:
            covered = sum(c.t1 - c.t0 for c in kids.get(sp.id, ()))
            out.append(round(covered / (sp.t1 - sp.t0), 4))
    return out
