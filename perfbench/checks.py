"""Correctness checks (outside the timed region) and metric derivation.

`run` compares what the Spark driver process reports, and for gate_mix what it
wrote, against the generator's truth; each check is (name, ok, detail).
`derived` turns raw timings into the per-workload figures, and
`layer_metrics` lays out the traced run's per-layer metrics in the fixed
order of PER_LAYER (0 for layers the workload does not run).
"""
import math
import os
import subprocess
import sys

from stats import median, percentile, percentile_with_tail

MH_RECALL_FLOOR = 0.9
IVF_RECALL_FLOOR = 0.8
FALSE_DROP_CEILING = 0.01
ORACLE_TIMEOUT_S = 60
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ----------------------------------------------------------------- checks


def run(workload, r, truth, work, traced, gates=()):
    if workload == "ffiec_ingest":
        out = check_ffiec(r["facts"], truth["ffiec"])
        if traced:
            n, want = r["layers"]["sources.rows_repaired"], truth["ffiec"]["planted_rows"]
            out.append(("rows repaired == planted", n == want, f"{n} vs {want}"))
        return out
    out = check_gates(os.path.join(work, "inputs", "tables"), os.path.join(work, "gate_out"),
                      gates)
    if traced:
        out += check_stores(r["facts"], truth["corpus"])
    return out


def _eq(name, got, want):
    return (name, got == want, "" if got == want else f"got {got} want {want}")


def check_ffiec(f, t):
    out = []
    rows = f["rows"]
    for date, d in t["dates"].items():
        for sched, n in d["wide"].items():
            out.append(_eq(f"wide rows {sched} {date}", rows.get(f"{sched}_{date}"), n))
        for dtype, n in d["long"].items():
            out.append(_eq(f"long rows {dtype} {date}", rows.get(f"{dtype}_{date}"), n))
        got = {k.split("|")[1]: v for k, v in f["float_sums"].items() if k.startswith(date)}
        out.append(_eq(f"float items {date}", sorted(got), sorted(d["sums"])))
        bad = [i for i, want in d["sums"].items()
               if i in got and not (got[i] == want if isinstance(want, int)
                                    else math.isclose(got[i], want, rel_tol=1e-9))]
        out.append(("exact sums and % proportions " + date, not bad, ",".join(bad[:5])))
        man = [m for m in f["manifest"] if m["date"] == date]
        out.append(("manifest all ok " + date, all(m["ok"] for m in man), ""))
        got_rep = {m["kind"]: sorted(m["repairs"]) for m in man if m["type"] == "schedule"}
        out.append(_eq("manifest repairs " + date, got_rep, d["repairs"]))
        out.append(_eq("manifest long tables " + date,
                       sorted(m["kind"] for m in man if m["type"] == "long"), sorted(d["long"])))
        out.append(_eq("manifest por " + date, sum(m["type"] == "por" for m in man), 1))
    dates = sorted(t["dates"])
    rc = [t["dates"][d]["wide"]["rc"] for d in dates]
    out.append(_eq("union rows", f["union_rows"], sum(rc)))
    added = t["added_item"]
    out.append(_eq("union drift nulls", f["union_added_null_rows"],
                   sum(rc) - t["dates"][dates[-1]]["counts"][added]))
    want = {i: sum(t["dates"][d]["sums"].get(i, 0) for d in dates) for i in t["pivot_items"]}
    out.append(_eq("pivot sums", {k: int(v) for k, v in f["pivot_sums"].items()}, want))
    out.append(_eq("pk and non-null on long tables", f["pk_ok"], True))
    return out


def check_gates(tables, out_dir, gates):
    """Replay each gate's DuckDB oracle with the repository's own oracle
    check (tools/check_oracle.py) and require it to cover every gate."""
    script = os.path.join(ROOT, "tools", "check_oracle.py")
    try:
        p = subprocess.run([sys.executable, script, tables, out_dir], capture_output=True,
                           text=True, timeout=ORACLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return [(f"oracle check within {ORACLE_TIMEOUT_S}s", False, "")]
    out = []
    for line in p.stdout.splitlines():
        status, _, rest = line.partition(" ")
        if status in ("OK", "FAIL"):
            name, _, detail = rest.strip().partition(": ")
            out.append((f"oracle {name}", status == "OK", detail))
    checked = sorted(name[len("oracle "):] for name, _, _ in out)
    out.append(_eq("oracle check covers every gate", checked, sorted(gates)))
    out.append(("oracle check exit code 0", p.returncode == 0,
                "" if p.returncode == 0 else p.stderr.strip()[-500:]))
    return out


def _dedup_truth(f, t):
    first = f["initial_docs"]
    planted = {d for d, _ in t["dups"] if d >= first}
    batch = set(range(first, first + f["batch_docs"]))
    dropped = batch - set(f["survivors"])
    return planted, dropped


def check_stores(f, t):
    planted, dropped = _dedup_truth(f, t)
    recall = len(dropped & planted) / len(planted)
    false_drops = len(dropped - planted)
    del_d, del_v = set(f["deleted_docs"]), set(f["deleted_vecs"])
    leaked_d = [p for p in f["probe_pairs"] if p[2] and p[1] in del_d]
    leaked_v = [h for h in f["search_hits"] if h[2] and h[1] in del_v]
    return [
        (f"planted-dup recall >= {MH_RECALL_FLOOR}", recall >= MH_RECALL_FLOOR, f"{recall:.4f}"),
        ("false drops <= 1% of batch docs",
         false_drops <= FALSE_DROP_CEILING * f["batch_docs"], str(false_drops)),
        (f"ivf recall@10 >= {IVF_RECALL_FLOOR}", f["ivf_recall_at_10"] >= IVF_RECALL_FLOOR,
         f"{f['ivf_recall_at_10']:.4f}"),
        ("no tombstoned doc in probe results", not leaked_d, str(leaked_d[:3])),
        ("no tombstoned vector in search results", not leaked_v, str(leaked_v[:3])),
        _eq("minhash live = appended - deleted", f["mh_live_sigs"],
            f["initial_docs"] + len(f["survivors"]) - len(del_d)),
        _eq("ivf live = appended - deleted", f["ivf_live_rows"],
            f["initial_vecs"] + f["batch_vecs"] - len(del_v)),
        ("lookups returned results", bool(f["probe_pairs"]) and bool(f["search_hits"]), ""),
    ]


# ---------------------------------------------------------------- metrics


def derived(workload, r, truth, traced):
    """Per-workload figures a user of that workload reads, name -> (value, unit);
    a traced gate_mix run adds the store churn's figures."""
    s, f = r["samples"], r["facts"]
    if workload == "ffiec_ingest":
        tsv = truth["ffiec"]["tsv_bytes"]
        return {"ingest_mb_per_s": (tsv / 1e6 / median(s["ingest_s"]), "MB/s"),
                "ffiec_query_s": (median(s["query_s"]), "s"),
                "bytes_stored_per_input_byte": (f["bytes_written"] / tsv, "ratio")}
    q = s["query_s"]
    out = {"query_p50_s": (median(q), "s"),
           "query_p90_s": (percentile(q, 90), "s"),
           "query_n": (len(q), "count")}
    tail = percentile_with_tail(q)
    if tail:
        out[f"query_p{tail[0]}_s_with_10_beyond"] = (tail[1], "s")
    if traced:
        out.update(store_figures(s, f, truth["corpus"]))
    return out


def store_figures(s, f, c):
    """The store churn's figures; its timings come from one churn cycle."""
    maint = sum(sum(s[k]) for k in ("mh_delete_s", "ivf_delete_s", "mh_compact_s",
                                    "ivf_compact_s"))
    return {
        "ingest_docs_per_s": (f["batch_docs"] / sum(s["mh_ingest_s"]), "docs/s"),
        "ingest_vecs_per_s": (f["batch_vecs"] / sum(s["ivf_append_s"]), "vecs/s"),
        "mh_probe_p50_s": (median(s["mh_probe_s"]), "s"),
        "mh_probe_n": (len(s["mh_probe_s"]), "count"),
        "ivf_search_p50_s": (median(s["ivf_search_s"]), "s"),
        "ivf_search_n": (len(s["ivf_search_s"]), "count"),
        "maintenance_s": (maint, "s"),
        "bytes_stored_per_input_byte": (f["store_bytes"] / (c["text_bytes"] + c["vec_bytes"]),
                                        "ratio")}


# (name, unit): the traced run's metrics, in BENCHMARK.json's order
PER_LAYER = [
    ("ffiec.ingest_mb_per_s", "MB/s"), ("ffiec.query_s", "s"),
    ("ffiec.bytes_stored_per_input_byte", "ratio"),
    ("sources.list_members_s", "s"), ("sources.header_s", "s"),
    ("sources.member_read_s", "s"), ("sources.inflate_floor_s", "s"),
    ("sources.inflate_efficiency", "ratio"), ("sources.rows_repaired", "count"),
    ("sources.union_scan_s", "s"),
    ("operators.combine_parts_s", "s"), ("operators.long_unpivot_s", "s"),
    ("operators.key_check_s", "s"), ("operators.pivot_wide_s", "s"),
    ("pipeline.process_zip_s", "s"), ("pipeline.files_written", "count"),
    ("pipeline.bytes_written", "bytes"),
    ("gates.query_p50_s", "s"), ("gates.query_p90_s", "s"), ("gates.query_n", "count"),
    ("entry.build_s", "s"), ("entry.exec_s", "s"),
    ("plans.planning_s", "s"), ("plans.planning_share", "ratio"),
    ("spark.jobs_per_query_p50", "count"), ("spark.jobs_per_query_p90", "count"),
    ("stores.ingest_docs_per_s", "docs/s"), ("stores.ingest_vecs_per_s", "vecs/s"),
    ("stores.mh_probe_p50_s", "s"), ("stores.mh_probe_n", "count"),
    ("stores.ivf_search_p50_s", "s"), ("stores.ivf_search_n", "count"),
    ("stores.maintenance_s", "s"), ("stores.bytes_stored_per_input_byte", "ratio"),
    ("functions.minhash_sig_s", "s"),
    ("operators.mh_ingest_s", "s"), ("operators.mh_probe_s", "s"),
    ("operators.mh_within_batch_pairs_s", "s"), ("operators.mh_append_s", "s"),
    ("operators.ivf_append_s", "s"), ("operators.ivf_search_s", "s"),
    ("operators.mh_compact_s", "s"), ("operators.ivf_compact_s", "s"),
    ("operators.mh_store_files_before", "count"), ("operators.mh_store_files_after", "count"),
    ("operators.ivf_store_files_before", "count"), ("operators.ivf_store_files_after", "count"),
    ("operators.mh_dup_recall", "ratio"), ("operators.mh_survivor_ratio", "ratio"),
    ("operators.ivf_recall_at_10", "ratio"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_busy_s", "s"), ("spark.core_utilization", "ratio"),
    ("spark.driver_gap_s", "s"), ("spark.input_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.output_bytes", "bytes"),
    ("spark.output_files", "count"), ("spark.peak_task_memory_mb", "MB"),
    ("spark.failed_tasks", "count"), ("driver.heap_peak_mb", "MB"),
    ("trace.overhead_s", "s"),
]

# derived per-workload figure -> per-layer name
_DERIVED_AS = {
    "ffiec_ingest": {"ingest_mb_per_s": "ffiec.ingest_mb_per_s", "ffiec_query_s": "ffiec.query_s",
                     "bytes_stored_per_input_byte": "ffiec.bytes_stored_per_input_byte"},
    "gate_mix": dict({"query_p50_s": "gates.query_p50_s", "query_p90_s": "gates.query_p90_s",
                      "query_n": "gates.query_n"}, **{k: "stores." + k for k in (
                          "ingest_docs_per_s", "ingest_vecs_per_s", "mh_probe_p50_s",
                          "mh_probe_n", "ivf_search_p50_s", "ivf_search_n", "maintenance_s",
                          "bytes_stored_per_input_byte")}),
}


def trace_overhead(traced, untraced):
    """Median traced round minus median untraced round, and whether that
    difference exceeds the untraced rounds' own range (resolved) or not."""
    diff = median(traced) - median(untraced)
    spread = max(untraced) - min(untraced)
    return diff, len(untraced) > 1 and abs(diff) > spread


def layer_metrics(workload, r, derived_figures, truth):
    """Every PER_LAYER metric: measured where the workload runs the layer,
    0 where it does not. Engine totals are per measured round."""
    vals = {name: 0 for name, _ in PER_LAYER}
    for k, name in _DERIVED_AS[workload].items():
        vals[name] = derived_figures[k][0]
    vals.update(r["layers"])
    s, f, e = r["samples"], r["facts"], r["engine"]
    rounds = r["rounds"]
    if workload == "ffiec_ingest":
        vals["sources.union_scan_s"] = median(s["union_scan_s"])
        vals["operators.pivot_wide_s"] = median(s["pivot_wide_s"])
        vals["pipeline.files_written"] = f["files_written"]
        vals["pipeline.bytes_written"] = f["bytes_written"]
        vals["spark.output_files"] = f["files_written"]
    if workload == "gate_mix":
        planted, dropped = _dedup_truth(f, truth["corpus"])
        vals["operators.mh_dup_recall"] = len(dropped & planted) / len(planted)
        vals["operators.mh_survivor_ratio"] = len(f["survivors"]) / f["batch_docs"]
        vals["operators.ivf_recall_at_10"] = f["ivf_recall_at_10"]
        for k in ("mh_store_files_before", "mh_store_files_after",
                  "ivf_store_files_before", "ivf_store_files_after"):
            vals["operators." + k] = f[k]
    jobs = e["jobs_per_op"]
    if jobs:
        vals["spark.jobs_per_query_p50"] = median(jobs)
        vals["spark.jobs_per_query_p90"] = percentile(jobs, 90)
    for k in ("jobs", "stages", "tasks", "task_busy_s", "driver_gap_s", "input_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes",
              "failed_tasks"):
        vals["spark." + k] = e[k] / rounds
    vals["spark.core_utilization"] = e["core_utilization"]
    vals["spark.peak_task_memory_mb"] = e["peak_task_memory_mb"]
    vals["driver.heap_peak_mb"] = r["driver_heap_peak_mb"]
    vals["trace.overhead_s"] = trace_overhead(s["round_s"], r["untraced_round_s"])[0]
    unknown = set(vals) - {n for n, _ in PER_LAYER}
    if unknown:
        raise ValueError(f"layer metrics missing from PER_LAYER: {sorted(unknown)}")
    return {name: (vals[name], unit) for name, unit in PER_LAYER}
