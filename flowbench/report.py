"""Turns the benchmark JVM's result file into the benchmark's metrics:
checks the flow's outputs against the goldens and computes span self
times and the per-layer split."""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

END_TO_END = [("flow_s", "s"), ("setup_s", "s"), ("retained_heap_mb", "MB")]

ORTHOLOG_STEPS = ["load", "reload", "agr", "fix"]
SPECIES_PHASES = ["relations", "picks", "inserted", "merged_state", "downgraded",
                  "orthologs", "associations"]
AGR_PHASES = ["agr_resolved", "agr_upserted", "agr_new_xrefs"]
# per-step audit counts: metric suffix -> (audit key, outcome within it)
AUDITS = [("matched", "resolve", "matched"), ("unmatched", "resolve", "unmatched"),
          ("inserted", "inserted", None), ("touched", "touched", None),
          ("deleted", "deleted", None), ("downgraded", "downgraded", None),
          ("sync_inserted", "syncInserted", None), ("sync_deleted", "syncDeleted", None)]
CORPUS_STEPS = ["prep", "neardup", "bpe_train", "pack_export"]
SPARK = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
         ("task_cpu_s", "s"), ("executor_run_s", "s"), ("busy_frac", "ratio"),
         ("gc_s", "s"), ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
         ("spill_mb", "MB"), ("failed_tasks", "count"), ("planning_s", "s"),
         ("driver_gap_s", "s"), ("persisted_rdds", "count"), ("storage_mb", "MB")]

PER_LAYER = (
    [("flow.%s_s" % s, "s") for s in ORTHOLOG_STEPS]
    + [("pipeline.%s.%s_s" % (s, p), "s") for s in ("load", "reload") for p in SPECIES_PHASES]
    + [("pipeline.%s_s" % p, "s") for p in AGR_PHASES]
    + [("pipeline.phases", "count"), ("sources.state_write_s", "s"), ("sources.state_mb", "MB"),
       ("operators.count_diff_s", "s"), ("operators.fix_xref_s", "s")]
    + [("operators.%s.%s" % (s, a[0]), "count") for s in ("load", "reload") for a in AUDITS]
    + [("llm.%s_s" % s, "s") for s in CORPUS_STEPS]
    + [("llm.kept_docs", "count"), ("llm.neardup_pairs", "count")]
    + [("spark." + n, u) for n, u in SPARK]
    + [("trace.flow_s", "s"), ("trace.unattributed_s", "s"), ("setup.jvm_s", "s"),
       ("failed_frac", "ratio")])

UNITS = dict(END_TO_END + PER_LAYER)


def self_times(spans):
    """Span id -> its duration minus the time its direct children cover
    (children clipped to the parent; overlapping children count once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def step_of(spans):
    """Span id -> the flow step ('load', ...) it runs under, or None."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        cur = s
        while cur is not None and not cur["name"].startswith("flow."):
            cur = by_id.get(cur["parent"])
        out[s["id"]] = cur["name"][len("flow."):] if cur else None
    return out


def check_flow(flow, golden):
    """Names of the steps of `flow` that failed: threw, were skipped, or
    wrote state / audit counts that differ from the goldens. Every golden
    key starts with the name of the step that produced it."""
    failed = {s["name"] for s in flow["steps"] if not s["ok"]}
    for kind in ("hashes", "audits"):
        for key, want in golden.get(kind, {}).items():
            if flow[kind].get(key) != want:
                failed.add(key.split(".", 1)[0])
    return failed


def parity_ok(parity):
    return (parity is not None and all(c == 0 for c in parity["cli_exit_codes"])
            and parity["steps_ok"]
            and all(cli == ours and not cli.startswith("ERROR")
                    for cli, ours in parity["tables"].values()))


def layer_metrics(flow, setup_jvm_s):
    """Per-layer values of one traced flow (0 where the workload does not
    touch the layer)."""
    spans = flow["spans"]
    selfs = self_times(spans)
    steps = step_of(spans)
    m = {name: 0.0 for name, _ in PER_LAYER}
    for s in flow["steps"]:
        key = "flow.%s_s" % s["name"] if s["name"] in ORTHOLOG_STEPS else "llm.%s_s" % s["name"]
        m[key] = s["seconds"]
    for s in spans:
        dur = s["end"] - s["start"]
        name, step = s["name"], steps[s["id"]]
        if name.startswith("phase."):
            phase = name[len("phase."):]
            m["pipeline.phases"] += 1
            if phase in AGR_PHASES:
                m["pipeline.%s_s" % phase] += dur
            elif step in ("load", "reload"):
                m["pipeline.%s.%s_s" % (step, phase)] += dur
        elif name == "sources.state_write":
            m["sources.state_write_s"] += selfs[s["id"]]
        elif name in ("operators.count_diff", "operators.fix_xref"):
            m[name + "_s"] += dur
        elif name.startswith("flow.") and step in ORTHOLOG_STEPS:
            # an ortholog step composes several layer calls, each its own
            # span; a corpus step is one llm call and is its own layer
            m["trace.unattributed_s"] += selfs[s["id"]]
    audits = flow["audits"]
    for step in ("load", "reload"):
        for metric, key, outcome in AUDITS:
            raw = audits.get("%s.%s" % (step, key), "" if outcome else "0")
            if outcome is not None:
                raw = dict(kv.split("=") for kv in raw.split(",") if kv).get(outcome, "0")
            m["operators.%s.%s" % (step, metric)] = float(raw)
    m["llm.kept_docs"] = float(audits.get("prep.kept_docs", 0))
    m["llm.neardup_pairs"] = float(audits.get("neardup.pairs", 0))
    m["sources.state_mb"] = flow["state_mb"]
    sp = flow["spark"] or {}
    for n, _ in SPARK:
        if n in sp:
            m["spark." + n] = sp[n]
    if sp:
        m["spark.busy_frac"] = sp["executor_run_s"] / (flow["flow_s"] * sp["cores"])
    m["spark.persisted_rdds"] = flow["persisted_rdds"]
    m["spark.storage_mb"] = flow["storage_mb"]
    m["trace.flow_s"] = flow["flow_s"]
    m["setup.jvm_s"] = setup_jvm_s
    return m


def summarize(result, golden):
    """The benchmark's result object from the JVM's result file."""
    flow = result["flow"]
    bad = check_flow(flow, golden)
    attempted, failed = len(flow["steps"]), len(bad)
    if result.get("parity") is not None:
        attempted += 1
        failed += 0 if parity_ok(result["parity"]) else 1
    metrics = {}
    if result["trace"]:
        if not bad:
            metrics.update(layer_metrics(flow, result["jvm_s"]))
        metrics["failed_frac"] = failed / attempted
    else:
        metrics["setup_s"] = statistics.median(result["setup_s"])
        if not bad:
            metrics["flow_s"] = flow["flow_s"]
            metrics["retained_heap_mb"] = flow["retained_heap_mb"]
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}}


def trace_record(result):
    """The trace file's content: the flow's Spark totals and every span
    with its self time and the Spark counters of the jobs the span
    submitted itself."""
    flow = result["flow"]
    selfs = self_times(flow["spans"])
    groups = flow.get("span_spark") or {}
    return {"workload": result["workload"], "seed": result["seed"],
            "flow_s": flow["flow_s"], "spark": flow["spark"], "spans": [
                dict(s, self=selfs[s["id"]], spark=groups.get("flowbench-span-%d" % s["id"], {}))
                for s in flow["spans"]]}
