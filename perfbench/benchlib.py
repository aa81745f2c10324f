"""Plan generation and metric arithmetic of the benchmark (no JVM, no
Spark: everything here is plain Python so the tests can reach it)."""
import json
import math
import os
import random
import statistics

WORKLOADS = ("analytics", "curation", "waves")
# The workloads BENCHMARK.json lists. Three do not fit its run budget
# (22 runs per workload in under an hour, each under 180 s): analytics
# is a manual workload, and its layers (Q call, planning, scheduler,
# exec) are measured on curation's consumer queries.
LISTED_WORKLOADS = ("curation", "waves")
UNMEASURED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected",
                          "unmeasured.json")

# The held artifacts in build order (graft.Bench's *_memo_build lines).
MEMOS = ("tower", "tower_old", "edge", "cc", "cand", "graph_old", "graph",
         "bm25", "upd", "bpe", "media", "dsir", "passage")

# Every registered query belongs to the workload of the object that
# registers it (the partition the tests hold).
WORKLOAD_OBJECTS = {
    "analytics": ("Core", "Protocol", "State", "Analytics", "Misc"),
    "curation": ("Text", "Pipeline"),
}
# What a default run executes. The benchmark is sized so that 22 runs per
# workload fit in under an hour on a 4-core box; a pass over all 57
# analytics queries (~47 s) or the builds plus all 124 curation queries
# (~3 min) does not, so --full runs them.
DEFAULT_ANALYTICS_OBJECTS = ("Core", "Protocol", "State", "Analytics")
# Untimed JIT warmup before a default analytics pass: six short
# MiscQueries (outside the default pass) covering unpivot, JSON, pivot,
# percentiles, as-of join and window frames.
ANALYTICS_WARMUP = ("q102_unpivot", "q43_json_props", "q44_pivot_events",
                    "q45_percentiles", "q47_asof_join", "q48_leadlag_ntile")
# After its builds, a default curation run serves one consumer of each
# held artifact, the cheapest one graft.Bench names for it. graph_old and
# upd have none: their only consumers (q151, q157, q175) drive whole store
# lifecycles inside the query.
CURATION_SERVE = (
    "q42_ann_ivf",            # tower
    "q92_index_append",       # tower_old
    "q126_knn_centrality",    # edge
    "q108_group_split",       # cc
    "q31_neardup_minhash",    # cand
    "q143_graph_ann_div",     # graph
    "q106_bm25",              # bm25
    "q67_bpe_train",          # bpe
    "q74_media_neardup",      # media
    "q158_dsir_select",       # dsir
    "q147_dup_passages",      # passage
)

STORES = ("corpus", "labels", "index", "graph", "lm")


def tail(values, beyond=10):
    """The highest integer percentile with at least `beyond` samples
    after it (nearest-rank). Returns (value, percentile, n), or None when
    there are not more than `beyond` samples."""
    n = len(values)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return sorted(values)[rank - 1], p, n


def workload_queries(registry, workload, full):
    if not full and workload == "curation":
        return sorted(CURATION_SERVE)
    objects = WORKLOAD_OBJECTS[workload] if full else DEFAULT_ANALYTICS_OBJECTS
    return sorted(q for o in objects for q in registry[o])


def default_queries(registry, workload):
    """The queries a default run of `workload` times and checks (an
    untimed warmup query is not checked, so it does not count)."""
    if workload not in WORKLOAD_OBJECTS:
        return []
    return workload_queries(registry, workload, False)


def load_unmeasured(path=UNMEASURED):
    """The reviewed list of registered queries no listed workload's
    default run executes: {reason: [query, ...]}."""
    with open(path) as f:
        return json.load(f)["unmeasured"]


def check_partition(registry, unmeasured):
    """Problems with the rules that every registered query belongs to
    exactly one query workload, and that every registered query is
    either run by a default pass of a listed workload or named, once, in
    the reviewed unmeasured list (an empty list when both hold)."""
    problems = []
    objects = [o for o in registry if o != "all"]
    owners = {o: [w for w, objs in WORKLOAD_OBJECTS.items() if o in objs] for o in objects}
    for o, ws in sorted(owners.items()):
        if len(ws) != 1:
            problems.append(f"object {o} belongs to {len(ws)} workloads")
    seen = {}
    for o in objects:
        for q in registry[o]:
            seen.setdefault(q, []).append(o)
    problems += [f"{q} registered by {objs}" for q, objs in sorted(seen.items())
                 if len(objs) > 1]
    every = set(registry["all"])
    if every != set(seen):
        problems.append(f"registry mismatch: {sorted(every ^ set(seen))}")
    run = {q for w in LISTED_WORKLOADS for q in default_queries(registry, w)}
    named = [q for qs in unmeasured.values() for q in qs]
    problems += [f"{q} named unmeasured twice" for q in sorted(set(named))
                 if named.count(q) > 1]
    problems += [f"{q} named unmeasured but not registered" for q in sorted(set(named) - every)]
    problems += [f"{q} named unmeasured but run by a listed workload"
                 for q in sorted(set(named) & run)]
    problems += [f"{q} neither run by a listed workload nor named unmeasured"
                 for q in sorted(every - run - set(named))]
    return problems


def permuted(names, seed):
    out = sorted(names)
    random.Random(seed).shuffle(out)
    return out


# The store lifecycle: one wave after the frozen build (a run of it
# must fit the run budget), each compacted afterwards. Slice sizes are
# fixed; only the ids vary with the seed.
WAVES = 1
# Documents [0, WAVE_DOCS) take part: the label store's CC maintenance
# grows with the live corpus (500 documents cost ~4 s more a run).
WAVE_DOCS = 200
HELD_DOCS = 40     # documents held back from the build for the appends
SLICE_DOCS = 5     # documents deleted, updated and appended per wave
SLICE_VECS = 8     # vectors deleted and appended per wave


def wave_plan(seed, n_docs, n_vecs):
    """A seeded store lifecycle over doc ids [0, n_docs) and vector ids
    [0, n_vecs). The frozen vector generation is ids below 4n/5 (the
    index's own cut); the rest is the append pool."""
    rnd = random.Random(seed)
    cut = n_vecs * 4 // 5
    doc_ids = list(range(n_docs))
    rnd.shuffle(doc_ids)
    pool_docs, live_docs = doc_ids[:HELD_DOCS], sorted(doc_ids[HELD_DOCS:])
    pool_vecs = list(range(cut, n_vecs))
    rnd.shuffle(pool_vecs)
    live_vecs = set(range(cut))
    live = set(live_docs)
    plan_waves = []
    for _ in range(WAVES):
        dele = sorted(rnd.sample(sorted(live), SLICE_DOCS))
        live -= set(dele)
        upd_ids = sorted(rnd.sample(sorted(live), SLICE_DOCS))
        updates = [[i, rnd.randrange(n_docs)] for i in upd_ids]
        app = sorted(pool_docs[:SLICE_DOCS])
        pool_docs = pool_docs[SLICE_DOCS:]
        live |= set(app)
        dvec = sorted(rnd.sample(sorted(live_vecs), SLICE_VECS))
        live_vecs -= set(dvec)
        avec = sorted(pool_vecs[:SLICE_VECS])
        pool_vecs = pool_vecs[SLICE_VECS:]
        live_vecs |= set(avec)
        plan_waves.append({"delete_docs": dele, "update_docs": updates,
                           "append_docs": app, "delete_vecs": dvec,
                           "append_vecs": avec})
    return {"initial_docs": live_docs, "waves": plan_waves}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def measured(spans, kinds):
    return [s for s in spans if s["measured"] and s["kind"] in kinds]


OP_KINDS = {
    "analytics": ("query",),
    "curation": ("build", "query"),
    "waves": ("build", "write", "commit", "read", "compact"),
}


def end_to_end(out):
    """The end-to-end metrics of one raw JVM result. Failed operations
    are counted by `failed`, not timed as if they had passed."""
    ops = [s["wall_s"] for s in measured(out["spans"], OP_KINDS[out["workload"]]) if s["ok"]]
    t = tail(ops)
    return {
        "setup_s": median(out["setup_s"]),
        "wall_s": median(out["pass_s"]),
        "op_p50_s": median(ops),
        "op_tail_s": t[0] if t else max(ops, default=0.0),
    }, {"op_tail_percentile": t[1] if t else 100, "op_samples": len(ops)}


def workload_figures(out):
    """Workload-specific headline figures (recorded in every run)."""
    spans = [s for s in out["spans"] if s["measured"]]
    w = out["workload"]
    fig = {}
    if w == "curation":
        fig["build_s"] = sum(s["wall_s"] for s in spans if s["kind"] == "build")
    if w == "waves":
        ex = out["extra"]
        per_wave, reads = {}, {}
        for s in spans:
            wave = s["extra"].get("wave")
            if wave is None or wave == 0:
                continue
            if s["kind"] in ("write", "commit"):
                per_wave[wave] = per_wave.get(wave, 0.0) + s["wall_s"]
            elif s["kind"] == "read":
                reads[wave] = reads.get(wave, 0.0) + s["wall_s"]
        fig["wave_p50_s"] = median(list(per_wave.values()))
        fig["read_p50_s"] = median(list(reads.values()))
        fig["compact_s"] = sum(s["wall_s"] for s in spans if s["kind"] == "compact")
        fig["space_amp"] = ex["bytes_before_compaction"] / max(1, ex["bytes_compacted"])
    return fig


def per_layer_names():
    names = ["queries.build_ms", "queries.build_jobs", "catalyst.plan_ms",
             "catalyst.plan_nodes", "scheduler.jobs", "scheduler.stages",
             "scheduler.tasks", "scheduler.idle_ms", "scheduler.large_task_binaries",
             "scheduler.max_task_binary_kib", "scheduler.job_overhead_us",
             "exec.task_ms", "exec.cpu_ms", "exec.gc_ms", "exec.core_util",
             "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
             "exec.peak_exec_mem_bytes", "exec.input_bytes"]
    for m in MEMOS:
        names += [f"memo.{m}.build_ms", f"memo.{m}.jobs", f"memo.{m}.hit_ms"]
    names += ["memo.held_bytes", "memo.build_s"]
    for st in STORES:
        names += [f"{st}.write_ms", f"{st}.read_ms", f"{st}.compact_ms",
                  f"{st}.compactions", f"{st}.bytes", f"{st}.files", f"{st}.generations"]
    names += ["stores.write_amp", "pipeline.commit_ms", "stores.wave_p50_s",
              "stores.read_p50_s", "stores.compact_s", "stores.space_amp",
              "jvm.gc_ms", "jvm.heap_peak_mb", "jvm.peak_rss_mb", "jvm.cold_setup_s",
              "trace.unattributed_jobs"]
    return names


PER_LAYER_UNITS = {
    "_ms": "ms", "_jobs": "count", "_nodes": "count", ".jobs": "count",
    ".stages": "count", ".tasks": "count", "_binaries": "count", "_kib": "KiB",
    "_us": "us", "_util": "ratio", "_bytes": "bytes", ".compactions": "count",
    ".bytes": "bytes", ".files": "count", ".generations": "count", "_amp": "ratio",
    "_s": "s", "_mb": "MB",
}


def unit_of(name):
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def per_layer(out):
    """Per-layer metrics of one traced raw result. Metrics of a layer
    the workload does not touch read 0."""
    spans = [s for s in out["spans"] if s["measured"]]
    passes = max(1, len(out["pass_s"]))
    m = {n: 0.0 for n in per_layer_names()}

    def tr(s, k):
        return s["trace"].get(k, 0.0)

    queries = [s for s in spans if s["kind"] == "query"]
    m["queries.build_ms"] = sum(s["phases_ms"].get("queries.build", 0) for s in queries) / passes
    m["queries.build_jobs"] = sum(tr(s, "build_jobs") for s in queries) / passes
    m["catalyst.plan_ms"] = sum(s["phases_ms"].get("catalyst.plan", 0) for s in queries) / passes
    m["catalyst.plan_nodes"] = sum(s["extra"].get("plan_nodes", 0) for s in queries) / passes
    ops = [s for s in spans if s["kind"] not in ("check", "meta")]
    for k in ("jobs", "stages", "tasks", "idle_ms", "large_task_binaries"):
        m[f"scheduler.{k}"] = sum(tr(s, k) for s in ops) / passes
    m["scheduler.max_task_binary_kib"] = max([tr(s, "max_task_binary_kib") for s in ops] or [0])
    m["scheduler.job_overhead_us"] = out["job_overhead_us"]
    for k in ("task_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "input_bytes"):
        m[f"exec.{k}"] = sum(tr(s, k) for s in ops) / passes
    m["exec.peak_exec_mem_bytes"] = max([tr(s, "peak_exec_mem_bytes") for s in ops] or [0])
    wall_ms = 1000 * sum(out["pass_s"])
    m["exec.core_util"] = sum(tr(s, "task_ms") for s in ops) / (wall_ms * out["cpus"])
    for s in spans:
        if s["layer"] == "memo":
            name = s["name"].split(".", 1)[1]
            if s["kind"] == "build":
                m[f"memo.{name}.build_ms"] = 1000 * s["wall_s"]
                m[f"memo.{name}.jobs"] = tr(s, "jobs")
            elif s["kind"] == "hit":
                m[f"memo.{name}.hit_ms"] = 1000 * s["wall_s"]
    ex = out["extra"]
    m["memo.held_bytes"] = ex.get("held_bytes", 0)
    m["memo.build_s"] = sum(s["wall_s"] for s in spans if s["layer"] == "memo"
                            and s["kind"] == "build")
    for s in spans:
        st = s["extra"].get("store")
        if s["layer"] != "store" or st is None:
            continue
        if st == "pipeline":
            m["pipeline.commit_ms"] += 1000 * s["wall_s"]
        elif s["kind"] in ("write", "read", "compact"):
            m[f"{st}.{s['kind']}_ms"] += 1000 * s["wall_s"]
    for st, figs in ex.get("stores", {}).items():
        for k in ("compactions", "bytes", "files", "generations"):
            m[f"{st}.{k}"] = figs[k]
    if "input_bytes" in ex:
        m["stores.write_amp"] = ex["written_bytes"] / max(1, ex["input_bytes"])
    for k, v in workload_figures(out).items():
        if k != "build_s":
            m[f"stores.{k}"] = v
    m["jvm.gc_ms"] = out["jvm_gc_ms"]
    m["jvm.heap_peak_mb"] = out["heap_peak_mb"]
    m["jvm.peak_rss_mb"] = out["peak_rss_mb"]
    m["jvm.cold_setup_s"] = out["setup_s"][0]
    m["trace.unattributed_jobs"] = out["unattributed_jobs"]
    return m
