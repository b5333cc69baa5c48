"""Per-layer wiring for the traced run: which public calls get a span,
and how the recorded spans fold into the per-layer metrics.

Spans wrap, from outside the program:

* ``pipelines``: ``stream2ods_batch``, ``dwd_increment``, ``dm_init``,
  ``dm_increment``;
* ``lake.table``: ``LakeTable.write`` (named ``lake.write.mor``,
  ``.cow`` or ``.indexed`` by the table's set-up), ``snapshot``,
  ``incremental``, ``clean``, ``archive_timeline``. Inline compaction
  runs inside ``write``; it is counted from the commit manifests it
  publishes (see ``storage.Ledger``);
* ``operators``, ``streaming``, ``cdc``: every public module-level
  function of those packages, rebound wherever the program imported it;
* ``catalog``: the registered row functions the workload runs (named
  ``catalog.<family>``), which build the row's DataFrame; the action
  that follows is the rest of the ``op.catalog`` span.

Every workload op also runs in an ``op.<kind>`` span, opened by the
runner. Metrics that a workload never exercises are reported as 0.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import pkgutil
import statistics

import spans
import storage

PKG = "emr_hudi_example_spark"
FAMILIES = ("operators", "streaming", "cdc")
PIPELINES = {
    "stream2ods": ("stream2ods", ["stream2ods_batch"]),
    "ods2dwd": ("ods2dwd", ["dwd_increment"]),
    "dwd2dm": ("dwd2dm", ["dm_init", "dm_increment"]),
}
READ_KINDS = ("point", "filter", "range", "incr", "scan")
OP_KINDS = ("tick", "stream") + READ_KINDS + ("upsert", "catalog")
#: catalog families the ``serve`` workload's rows belong to
CATALOG_FAMILIES = ("a", "limit")


def _write_name(args, kwargs) -> str:
    t = args[0]
    if t.record_index or t.secondary_index_columns:
        return "lake.write.indexed"
    return "lake.write.mor" if t.is_mor else "lake.write.cow"


def _after_write(sp, args, kwargs, inst) -> None:
    t = args[0]
    sp.attrs.update(files_added=0, bytes_added=0, index_bytes_added=0)
    if not inst:
        return
    manifest = os.path.join(t.commits_dir, f"{inst}.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            added = json.load(fh)["added"]
        sp.attrs["files_added"] = len(added)
        sp.attrs["bytes_added"] = storage._added_bytes(manifest)
    for d in (t.index_dir, t.sec_index_dir):
        p = os.path.join(d, inst)
        if os.path.isdir(p):
            sp.attrs["index_bytes_added"] += sum(
                s for s, _ in storage.walk(p).values())


def _after_listing(sp, args, kwargs, out) -> None:
    sp.attrs["files_deleted"] = len(out or [])


def install(rec: spans.Recorder) -> spans.Patcher:
    from emr_hudi_example_spark import catalog
    from emr_hudi_example_spark.lake.table import LakeTable
    from serve import _family

    p = spans.Patcher()
    for short, (mod_name, fns) in PIPELINES.items():
        mod = importlib.import_module(f"{PKG}.pipelines.{mod_name}")
        for fn_name in fns:
            orig = getattr(mod, fn_name)
            p.everywhere(orig, rec.wrap(orig, f"pipelines.{short}"), PKG)
    lake = {
        "write": (_write_name, _after_write),
        "snapshot": ("lake.snapshot", None),
        "incremental": ("lake.incremental", None),
        "clean": ("lake.clean", _after_listing),
        "archive_timeline": ("lake.archive_timeline", _after_listing),
    }
    for meth, (name, after) in lake.items():
        p.set(LakeTable, meth, rec.wrap(LakeTable.__dict__[meth], name, after))
    for fam in FAMILIES:
        pkg = importlib.import_module(f"{PKG}.{fam}")
        mods = [pkg] + [
            importlib.import_module(f"{PKG}.{fam}.{m.name}")
            for m in pkgutil.iter_modules(pkg.__path__)
        ]
        for mod in mods:
            for fn_name, fn in list(vars(mod).items()):
                if (fn_name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                p.everywhere(fn, rec.wrap(fn, fam), PKG)
    for row, fn in list(catalog.Q.items()):
        p.set_item(catalog.Q, row, rec.wrap(fn, f"catalog.{_family(row)}"))
    return p


def _top(spans_, name_prefix: str):
    """Spans under ``name_prefix`` whose parent is not one of them, so
    nested calls within a layer are not counted twice."""
    picked = [s for s in spans_ if s.name.startswith(name_prefix)]
    ids = {s.id for s in picked}
    return [s for s in picked if s.parent not in ids]


def _sum(ss, attr) -> float:
    return float(sum(getattr(s, attr) if hasattr(s, attr) else s.attrs.get(attr, 0)
                     for s in ss))


def per_layer(rec, wl, ops, ledger, st) -> dict:
    ss = rec.spans
    m: dict[str, float] = {}
    for short in PIPELINES:
        top = _top(ss, f"pipelines.{short}")
        for a in ("s", "driver_s", "jobs", "shuffle_bytes"):
            m[f"pipelines.{short}.{a}"] = _sum(top, a)
    for kind in ("mor", "cow"):
        top = _top(ss, f"lake.write.{kind}")
        for a in ("self_s", "jobs", "files_added", "bytes_added"):
            m[f"lake.write.{kind}.{a}"] = _sum(top, a)
    top = _top(ss, "lake.write.indexed")
    for a in ("self_s", "jobs", "index_bytes_added"):
        m[f"lake.write.indexed.{a}"] = _sum(top, a)
    compact_ticks = [o["s"] for o in ops if o.get("compactions")]
    m["lake.compact.count"] = float(sum(o.get("compactions", 0) for o in ops))
    m["lake.compact.bytes_rewritten"] = float(
        sum(o.get("compact_bytes", 0) for o in ops))
    m["lake.compact.tick_s"] = (
        statistics.median(compact_ticks) if compact_ticks else 0.0)
    for svc in ("clean", "archive_timeline"):
        top = _top(ss, f"lake.{svc}")
        m[f"lake.{svc}.s"] = _sum(top, "s")
        m[f"lake.{svc}.files_deleted"] = _sum(top, "files_deleted")
    tables = wl.tables(st)
    m["lake.commits"] = float(sum(len(t.timeline()) for t in tables))
    m["lake.live_files"] = float(sum(storage.data_files(t.path) for t in tables))
    m["lake.incremental.self_s"] = _sum(_top(ss, "lake.incremental"), "self_s")
    # serve: per read type, planning inside the call vs the action
    op_kind = {i: o["kind"] for i, o in enumerate(ops)}
    for kind in READ_KINDS:
        op_spans = [s for s in ss if s.parent is None and s.name == f"op.{kind}"]
        plan = [s for s in ss if op_kind.get(s.op) == kind
                and s.name in ("lake.snapshot", "lake.incremental")
                and s.parent in {o.id for o in op_spans}]
        m[f"read.{kind}.plan_s"] = _sum(plan, "s")
        m[f"read.{kind}.exec_s"] = _sum(op_spans, "s") - _sum(plan, "s")
        m[f"read.{kind}.jobs"] = _sum(op_spans, "jobs")
        m[f"read.{kind}.input_bytes"] = _sum(op_spans, "input_bytes")
    files = float(sum(storage.data_files(t.path) for t in tables)) or 1.0
    for kind in ("point", "filter", "range"):
        reads = [o for o in ops if o["kind"] == kind and "pruned" in o]
        skipped = sum(o["pruned"]["files_skipped"] + o["pruned"]["record"]
                      for o in reads)
        m[f"lake.prune.files_kept_ratio.{kind}"] = (
            1.0 - skipped / (files * len(reads)) if reads else 0.0)
    for pruner in ("files_skipped", "record", "sec_index", "partitions"):
        m[f"lake.prune.{pruner}"] = float(sum(
            o["pruned"][pruner] for o in ops if "pruned" in o))
    for fam in FAMILIES:
        top = _top(ss, fam)
        m[f"{fam}.calls"] = float(len(top))
        m[f"{fam}.s"] = _sum(top, "s")
        m[f"{fam}.jobs"] = _sum(top, "jobs")
    for fam in CATALOG_FAMILIES:
        build = _top(ss, f"catalog.{fam}")
        parents = {s.parent for s in build}
        op_spans = [s for s in ss if s.id in parents]
        m[f"catalog.{fam}.build_s"] = _sum(build, "s")
        m[f"catalog.{fam}.exec_s"] = _sum(op_spans, "s") - _sum(build, "s")
        m[f"catalog.{fam}.jobs"] = _sum(op_spans, "jobs")
    ops_top = [s for s in ss if s.parent is None]
    m["ops.driver_s"] = _sum(ops_top, "driver_s")
    m["ops.executor_ms"] = _sum(ops_top, "executor_ms")
    m["ops.jobs"] = _sum(ops_top, "jobs")
    return m


def latencies(ops) -> dict:
    """Median wall per op kind (0 for kinds the workload never runs)."""
    m = {}
    for kind in OP_KINDS:
        walls = [o["s"] for o in ops if o["kind"] == kind]
        m[f"latency.{kind}.p50"] = statistics.median(walls) if walls else 0.0
    return m


def unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_ms"):
        return "ms"
    if "ratio" in name or "share" in name:
        return "ratio"
    if name.endswith(("_s", ".s", ".p50")):
        return "s"
    return "count"
