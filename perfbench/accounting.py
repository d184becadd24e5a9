"""Turns a run's raw samples into metrics, and checks its outputs.

The JVM side (src/perfbench/Main.scala) writes every timing, check
digest and trace record of a run; everything here is plain arithmetic
over those records, so it is unit-tested on literal data
(test_accounting.py).

Trace records use epoch milliseconds. A span has ``id``, ``parent``,
``name``, ``start`` and ``end``; a Spark job carries the id of the span
it was submitted from (the ``perfbench.span`` local property), or -1
when it was not, in which case the innermost span containing its start
is used.

Only work inside an ``op:`` span (one operation of the program: a
``Medallion.run`` call, or a query's build and materialization) counts
toward the per-layer metrics. The benchmark's own work in a pass, such
as output digests and heap samples, lies outside those spans.
"""

import os
import statistics

import workloads

MB = 1024.0 * 1024.0
PHASES = ("cold", "rerun", "delta")
STAGES = ("bronze", "score", "datamart", "views")
# warm subsystems any workload builds; each gets a warm.<name>_s metric
WARM = sorted({w for spec in workloads.WORKLOADS.values()
               for w in spec.get("warm", [])})


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ── span arithmetic ─────────────────────────────────────────────────────

def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def innermost(spans, t):
    """Id of the shortest span containing time t, or -1."""
    best, best_len = -1, None
    for s in spans:
        if s["start"] <= t <= s["end"]:
            length = s["end"] - s["start"]
            if best_len is None or length < best_len:
                best, best_len = s["id"], length
    return best


class Tree:
    """Spans indexed for attribution of jobs, stages and executions."""

    def __init__(self, trace):
        self.spans = trace.get("spans", [])
        self.by_id = {s["id"]: s for s in self.spans}
        self.jobs = trace.get("jobs", [])
        self.job_span = {j["id"]: self.span_of(j) for j in self.jobs}
        exec_span = {}
        for j in sorted(self.jobs, key=lambda j: j["id"]):
            if j["execution"] >= 0 and j["execution"] not in exec_span:
                exec_span[j["execution"]] = self.job_span[j["id"]]
        self.exec_span = exec_span
        for e in trace.get("executions", []):
            if e["id"] not in exec_span:
                exec_span[e["id"]] = innermost(self.spans, e["start"])

    def span_of(self, job):
        if job["span"] >= 0 and job["span"] in self.by_id:
            return job["span"]
        return innermost(self.spans, job["start"])

    def ancestor(self, span_id, prefix):
        """Nearest span (itself included) whose name starts with prefix."""
        while span_id in self.by_id:
            s = self.by_id[span_id]
            if s["name"].startswith(prefix):
                return span_id
            span_id = s["parent"]
        return None

    def named(self, prefix):
        return [s for s in self.spans if s["name"].startswith(prefix)]


# ── output checks ───────────────────────────────────────────────────────

def _catalog_checked(samples):
    """Catalog query results that carry an output digest."""
    return [q for p in samples["passes"] for q in p.get("queries", [])
            if "digest" in q]


def check(samples, expected):
    """Every wrong output, as one line each."""
    problems = []
    if "queries" in samples["passes"][0]:
        want = expected.get("catalog", {})
        for q in _catalog_checked(samples):
            if not q["ok"]:
                continue  # already a recorded failure
            if q["name"] not in want:
                problems.append(f"{q['name']}: no expected output recorded")
            elif q["digest"] != want[q["name"]]:
                problems.append(f"{q['name']}: got {q['digest']}, "
                                f"expected {want[q['name']]}")
        return problems
    want = expected.get("medallion")
    for it in samples["passes"]:
        n = it["pass"]
        if not all(it[p]["ok"] for p in PHASES):
            continue  # already a recorded failure
        if it["delta_digest"] != want:
            problems.append(f"delta {n}: silver and views {it['delta_digest']} "
                            f"differ from a cold build's {want}")
        if not it["cold"]["bronze_constructed"]:
            problems.append(f"cold {n}: bronze was not constructed")
        r = it["rerun"]
        if (r["new_facts"] or r["new_dim_rows"] or r["bronze_constructed"]
                or not r["sinks_unchanged"]):
            problems.append(f"rerun {n}: wrote to a sink ({r})")
        if it["delta"]["new_facts"] <= 0:
            problems.append(f"delta {n}: scored no held-out target")
    return problems


def failed_ops(samples, problems):
    return min(samples["attempted"], len(samples["failures"]) + len(problems))


def record_expected(samples, expected):
    """Store this run's outputs as the expected ones."""
    if "queries" in samples["passes"][0]:
        cat = expected.setdefault("catalog", {})
        for q in _catalog_checked(samples):
            if q["ok"]:
                cat[q["name"]] = q["digest"]
    else:
        expected["medallion"] = samples["reference_digest"]


# ── metrics ─────────────────────────────────────────────────────────────

def _ops(p):
    """The operations of one pass: catalog queries or medallion phases."""
    if "queries" in p:
        return p["queries"]
    return [p[ph] for ph in PHASES]


def _op_times(p):
    """Per-operation seconds of one pass."""
    if "queries" in p:
        return [q["build_s"] + q["materialize_s"] for q in p["queries"]]
    return [p[ph]["seconds"] for ph in PHASES]


def setup_seconds(samples):
    """Session start, input staging and warm-state builds."""
    s = samples["setup"]
    return (samples["session_s"] + s["staging_s"] +
            sum(s.get("warm_s", {}).values()))


def end_to_end(samples):
    """Untraced passes only."""
    passes = [p for p in samples["passes"] if not p["traced"]]
    return {
        "setup_s": (setup_seconds(samples), "s"),
        "pass_s": (median([sum(_op_times(p)) for p in passes]), "s"),
        "peak_heap_mb": (samples["peak_heap_mb"], "MB"),
    }


def _stage_of(names):
    """Medallion stage of a SQL execution, from the directories it
    writes (else reads): the latest stage any of them belongs to."""
    rank = {"bronze": 0, "score": 1, "datamart": 2, "views": 3}
    found = []
    for n in names:
        if n.startswith("bronze_"):
            found.append("bronze")
        elif n == "similarity_pairs":
            found.append("score")
        elif n in ("silver_fact", "silver_dim"):
            found.append("datamart")
        elif n.startswith("view_"):
            found.append("views")
    return max(found, key=rank.get) if found else None


def _base(path):
    return os.path.basename(path.rstrip("/"))


def per_layer(samples, failed):
    trace = samples["trace"]
    tree = Tree(trace)
    passes = tree.named("pass:")
    n = max(len(passes), 1)
    ops = [s for s in tree.named("op:")
           if tree.ancestor(s["id"], "pass:") is not None]
    op_ids = {s["id"] for s in ops}

    def in_op(span_id):
        return tree.ancestor(span_id, "op:") in op_ids

    jobs = [j for j in tree.jobs if in_op(tree.job_span[j["id"]])]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in trace.get("stages", []) if s["job"] in job_ids]
    execs = {e["id"]: e for e in trace.get("executions", [])}
    op_execs = [e for e in execs.values()
                if in_op(tree.exec_span.get(e["id"], -1))]
    actions = [a for a in trace.get("actions", [])
               if in_op(innermost(tree.spans, a["start"]))]

    def per_pass(x):
        return x / n

    m = {}

    # graft.pipeline.Medallion stages and the similarity kernel
    for ph in PHASES:
        ph_ops = [s for s in ops if s["name"] == f"op:{ph}"]
        ph_ids = {s["id"] for s in ph_ops}

        def in_phase(span_id, ph_ids=ph_ids):
            return tree.ancestor(span_id, "op:") in ph_ids
        ph_jobs = {j["id"] for j in jobs if in_phase(tree.job_span[j["id"]])}
        # a root execution and the ones nested in it form one unit of work
        roots = {}
        for e in op_execs:
            if in_phase(tree.exec_span.get(e["id"], -1)):
                roots.setdefault(e["root"], []).append(e)
        stage_s = dict.fromkeys(STAGES, 0.0)
        for root, es in roots.items():
            r = execs.get(root)
            writes = [_base(w["path"]) for e in es for w in e["writes"]]
            reads = [_base(p) for e in es for sc in e["scans"] for p in sc["paths"]]
            st = _stage_of(writes) or _stage_of(reads)
            if st and r and r["end"] >= r["start"]:
                stage_s[st] += (r["end"] - r["start"]) / 1000.0
        phase_execs = [e for es in roots.values() for e in es]
        scored = sum(e["nested_loop_rows"] for e in phase_execs)
        kept = sum(w["rows"] for e in phase_execs for w in e["writes"]
                   if _base(w["path"]) == "similarity_pairs")
        m[f"{ph}_s"] = (per_pass(sum(s["end"] - s["start"] for s in ph_ops) / 1000.0), "s")
        for st in STAGES:
            m[f"{ph}.{st}_s"] = (per_pass(stage_s[st]), "s")
        m[f"{ph}.jobs"] = (per_pass(len(ph_jobs)), "count")
        m[f"{ph}.rows_written"] = (per_pass(sum(
            s["out_rows"] for s in stages if s["job"] in ph_jobs)), "count")
        m[f"{ph}.pairs_scored"] = (per_pass(scored), "count")
        m[f"{ph}.pairs_kept"] = (per_pass(kept), "count")
        m[f"{ph}.score_useful_ratio"] = (kept / scored if scored else 0.0, "ratio")
    wh = [p["warehouse_bytes"] for p in samples["passes"] if "warehouse_bytes" in p]
    m["warehouse_mb"] = (median(wh) / MB, "MB")

    # parquet sink and scans
    writes = [w for e in op_execs for w in e["writes"]]
    m["write.bytes"] = (per_pass(sum(s["out_bytes"] for s in stages)), "bytes")
    m["write.rows"] = (per_pass(sum(s["out_rows"] for s in stages)), "count")
    m["write.files"] = (per_pass(sum(w["files"] for w in writes)), "count")
    m["scan.bytes"] = (per_pass(sum(s["in_bytes"] for s in stages)), "bytes")
    m["scan.rows"] = (per_pass(sum(s["in_rows"] for s in stages)), "count")
    m["scan.files"] = (per_pass(sum(sc["files"] for e in op_execs
                                    for sc in e["scans"])), "count")

    # graft.queries.* build, and the catalog's per-query times
    traced = [p for p in samples["passes"] if p["traced"]]
    untraced = [p for p in samples["passes"] if not p["traced"]]
    qrows = [q for p in traced for q in p.get("queries", [])]
    builds = [s for s in tree.named("build") if in_op(s["id"])]
    build_ids = {s["id"] for s in builds}
    m["build_s"] = (per_pass(sum(q["build_s"] for q in qrows)), "s")
    m["build.jobs"] = (per_pass(sum(1 for j in jobs
                                    if tree.job_span[j["id"]] in build_ids)), "count")
    m["materialize_s"] = (per_pass(sum(q["materialize_s"] for q in qrows)), "s")
    qt = [q["build_s"] + q["materialize_s"] for q in qrows]
    m["query_p50_s"] = (quantile(qt, 0.5), "s")
    m["query_p90_s"] = (quantile(qt, 0.9), "s")

    # Catalyst: each action's phases plus the analysis done at build
    built_analysis = sum(q.get("analysis_ms", 0) for q in qrows)
    for phase in ("analysis", "optimization", "planning"):
        ms = sum(a[f"{phase}_ms"] for a in actions)
        if phase == "analysis":
            ms += built_analysis
        m[f"catalyst.{phase}_s"] = (per_pass(ms / 1000.0), "s")

    # Spark scheduling and execution
    m["jobs"] = (per_pass(len(jobs)), "count")
    m["stages"] = (per_pass(sum(1 for s in stages if s["tasks"])), "count")
    m["tasks"] = (per_pass(sum(s["tasks"] for s in stages)), "count")
    m["tasks.failed"] = (per_pass(sum(s["failed"] for s in stages)), "count")
    m["task_s"] = (per_pass(sum(s["run_ms"] for s in stages) / 1000.0), "s")
    m["task_cpu_s"] = (per_pass(sum(s["cpu_ns"] for s in stages) / 1e9), "s")
    gap = 0.0
    for op in ops:
        ivs = [(j["start"], j["end"]) for j in jobs if j["end"] >= 0 and
               tree.ancestor(tree.job_span[j["id"]], "op:") == op["id"]]
        gap += (op["end"] - op["start"]) - covered(ivs, op["start"], op["end"])
    m["driver_gap_s"] = (per_pass(gap / 1000.0), "s")

    # exchange and memory
    m["shuffle.write_bytes"] = (per_pass(sum(s["shuffle_write"] for s in stages)), "bytes")
    m["shuffle.read_bytes"] = (per_pass(sum(s["shuffle_read"] for s in stages)), "bytes")
    m["spill_bytes"] = (per_pass(sum(s["spill"] for s in stages)), "bytes")
    m["gc_s"] = (per_pass(sum(o["gc_s"] for p in traced for o in _ops(p))), "s")

    # graft.Caching
    cache = trace.get("cache", {})
    m["cache.peak_bytes"] = (cache.get("peak_bytes", 0), "bytes")
    m["cache.blocks"] = (cache.get("blocks", 0), "count")

    # graft.streaming and StreamingQueries
    streams = trace.get("streams", [])
    last_state = {}
    for s in streams:
        last_state[s["query"]] = s["state_rows"]
    m["stream.batches"] = (per_pass(len(streams)), "count")
    m["stream.add_batch_s"] = (per_pass(sum(s["add_batch_ms"] for s in streams) / 1000.0), "s")
    m["stream.commit_s"] = (per_pass(sum(s["wal_commit_ms"] + s["commit_offsets_ms"]
                                         for s in streams) / 1000.0), "s")
    m["stream.state_rows"] = (per_pass(sum(last_state.values())), "count")

    # graft.WarmCache and the warm builders (set-up, once per run)
    warm = samples["setup"].get("warm_s", {})
    for w in WARM:
        m[f"warm.{w}_s"] = (warm.get(w, 0.0), "s")
    hits = list(samples["setup"].get("warm_disk_hits", {}).values())
    m["warm.disk_hit_ratio"] = (sum(hits) / len(hits) if hits else 0.0, "ratio")

    # the run as a whole, and what tracing cost it
    m["fail_ratio"] = (failed / samples["attempted"], "ratio")
    selfs = self_times(tree.spans)
    m["harness.self_s"] = (per_pass(sum(selfs[s["id"]] for s in passes) / 1000.0), "s")
    # untraced passes after the first, which alone pays first-use costs
    on = median([sum(_op_times(p)) for p in traced])
    off = median([sum(_op_times(p)) for p in untraced if p["pass"] > 0])
    m["trace.overhead_s"] = (on - off, "s")
    return m
