#!/usr/bin/env python3
"""Apply the SURVEY §8.7 spread-band regression rule to the AUXILIARY
benches (dev tool only; the engine itself is pure Scala/Spark).

compare_bench.py reads `graft.Bench` per-query detail files;
STREAMBENCH_r{N}_*.json (`graft.StreamBench`) and
INDEXBENCH_r{N}_*.json (`graft.IndexBench`) lines were compared by
hand until r13 (VERDICT r13 item 5). This sibling applies the same
logic to them:

Usage: compare_aux_bench.py <baseline.json ...> -- <candidate.json ...>

File type is auto-detected from the "metric" field:
  - "stream_bench": per-config `events_per_sec` (HIGHER is better;
    also compares batch_ms_p50 lower-better as context). Sweep files
    (configs keyed like `serve_evict@40000`) compare per key, so a
    rate-sweep candidate is only compared on configs the baseline ran.
  - "ivf_maintenance": `probe_ms_before`, `probe_ms_after`,
    `compact_ms` (LOWER is better); file counts are printed as
    context (layout facts, not timings).
  - "scale_bench" (`graft.ScaleBench`): per-query `cpu_sec_{N}x` and
    `cpu_ratio`, per-index `probe_ms_{N}x` (LOWER is better); the
    in-file superlinear flag list is printed as context. Comparable
    only across runs with the same tile count (the metric NAMES carry
    N, so mismatched-N runs simply share no metrics and exit 2).

The band is the one the r13 four-run Bench pairs measured (per-query
same-code spread p90 1.82): a metric is FLAGGED only when EVERY
candidate run is worse than SPREAD (1.8) × the best baseline run
(for lower-better; baseline-best/SPREAD for higher-better) — one bad
run on a shared host is noise, all runs bad is a regression.

Hard-fail additions (r16, ADVICE r15 medium): a candidate scale_bench
doc with a nonempty `failed` list is FLAGGED outright (a query that
crashes at 10x must not exit 0 because its metrics silently dropped
out of the comparison), and any metric present in EVERY baseline run
but absent from the candidate is FLAGGED as missing (the same
regression class seen from the other side).

AT-CEILING rows (r16, VERDICT r15 item 6; TIGHTENED r17 per ADVICE
r16): in a multi-rate stream sweep, a config offered ≈ the most
throughput its family ever demonstrated in the baseline (offered ≥
1/1.15 of the family's best events/s at ANY rate) MAY sit at its own
measured ceiling — but proximity alone is not evidence: the r16 rule
exempted the TOP offered rate of every family unconditionally, so a
throughput collapse on a row the baseline sustained cleanly (e.g.
the dpp 2M@40k headline) would have printed CEIL and exited 0. A row
is therefore exempt only when the BASELINE ITSELF showed at-ceiling
behavior on that config — some baseline run non-steady, or
events_per_sec < 0.9 × offered (the bistable regime the rule was
written for). Rows the baseline held cleanly in every run keep the
gate regardless of where they sit. Single-rate families (the classic
configs) have no headroom evidence and always keep the gate. The
missing-metric exemption is likewise restricted to batch_ms_p50 (the
one metric a non-steady run legitimately drops); a missing or null
events_per_sec means the config never ran and always flags.

Exit 1 if anything flagged, 2 on unusable input, else 0.
"""
import json
import re
import sys

SPREAD = 1.8
CEIL_BAND = 1.15


def load(paths):
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append((p, json.load(f)))
    return runs


def metrics(doc):
    """-> {name: (value, higher_is_better)} plus context strings."""
    kind = doc.get("metric")
    out, ctx = {}, []
    if kind == "stream_bench":
        for cfg, d in doc.get("configs", {}).items():
            # a null rate: no batch completed in the window, the config
            # never ran (main() flags it); it has no metric to compare
            if d["events_per_sec"] is None:
                continue
            out[f"{cfg}.events_per_sec"] = (float(d["events_per_sec"]), True)
            # past a config's ceiling (`steady: false`, r15+) p50 is the
            # size of whatever backlog batch happened to complete, not a
            # code property — only steady runs carry a comparable latency
            if d.get("steady", True):
                out[f"{cfg}.batch_ms_p50"] = (float(d["batch_ms_p50"]), False)
            ctx.append(f"{cfg}: state_rows={d.get('state_rows_final')}")
        # index build times are one-time stream-start costs, reported
        # like the index-bench rebuild arms: context, never gated
        if doc.get("index_build_ms"):
            ctx.append("index_build_ms: " + ", ".join(
                f"{k}={v}" for k, v in doc["index_build_ms"].items()))
    elif kind == "ivf_maintenance":
        for k in ("probe_ms_before", "probe_ms_after", "compact_ms",
                  # r15+ retrain arm (absent in older files -> simply
                  # not compared against them)
                  "rebuild_ms", "probe_ms_retrained",
                  # r15+ IVF-PQ lifecycle arm
                  "ivfpq_probe_ms_before", "ivfpq_probe_ms_after",
                  "ivfpq_compact_ms", "ivfpq_rebuild_ms",
                  "ivfpq_probe_ms_retrained",
                  # r16+ resize arm (nlist ~ sqrt(N) rebuild)
                  "rebuild_resized_ms", "probe_ms_resized",
                  "ivfpq_rebuild_resized_ms", "ivfpq_probe_ms_resized",
                  # r18+ cosine (buildLarge/appendLarge) lifecycle arm —
                  # absent in pre-r18 files -> not compared against them
                  "cos_build_ms", "cos_probe_ms_before",
                  "cos_probe_ms_after", "cos_compact_ms"):
            if k in doc:
                out[k] = (float(doc[k]), False)
        ctx.append(f"files {doc.get('files_before')} -> "
                   f"{doc.get('files_after')} "
                   f"(cells {doc.get('cells_compacted')})")
        if "breakeven_probes" in doc:
            ctx.append(f"tiles={doc.get('tiles')} rows={doc.get('rows')} "
                       f"breakeven_probes={doc['breakeven_probes']} "
                       f"ivfpq_breakeven_probes={doc.get('ivfpq_breakeven_probes')}")
    elif kind == "scale_bench":
        t = doc.get("tiles")
        # r15+ files carry a `scales` list (e.g. [1,4,10]); r14 two-point
        # files only `tiles` — metric NAMES carry the scale, so runs with
        # different scale sets simply share fewer metrics.
        scales = doc.get("scales", [1, t])
        for q, d in doc.get("queries", {}).items():
            if d.get("failed_at"):
                continue  # failed queries carry sentinel cpu values
            for s in scales:
                if s == 1:
                    continue
                out[f"{q}.cpu_sec_{s}x"] = (float(d[f"cpu_sec_{s}x"]), False)
            out[f"{q}.cpu_ratio"] = (float(d["cpu_ratio"]), False)
        for k, d in doc.get("index_probes", {}).items():
            for s in scales:
                if s == 1:
                    continue
                out[f"{k}.probe_ms_{s}x"] = (float(d[f"probe_ms_{s}x"]), False)
        ctx.append(f"superlinear_flagged={doc.get('superlinear_flagged')}")
        if doc.get("failed"):
            ctx.append(f"FAILED QUERIES={doc['failed']}")
        ctx.append(f"heap_after_gc_mb_{t}x="
                   f"{doc.get(f'heap_after_gc_mb_{t}x')}")
        # r15+ dedup-work self-adjudication: candidate volumes are exact
        # integers, so a cpu flag on q29/q131 reads against these ratios
        if f"lsh_candidates_{t}x" in doc:
            c1, cn = doc.get("lsh_candidates_1x"), doc.get(f"lsh_candidates_{t}x")
            if c1 and cn:
                ctx.append(
                    "lsh candidate work: exact "
                    f"{c1['exact_cand_pairs']} -> {cn['exact_cand_pairs']} "
                    f"({cn['exact_cand_pairs'] / max(c1['exact_cand_pairs'], 1):.1f}x), "
                    f"bounded {c1['bounded_cand_pairs']} -> {cn['bounded_cand_pairs']} "
                    f"({cn['bounded_cand_pairs'] / max(c1['bounded_cand_pairs'], 1):.1f}x)")
    else:
        raise ValueError(f"unknown metric kind: {kind!r}")
    return out, ctx


def main(argv):
    if "--" not in argv:
        print(__doc__)
        return 2
    split = argv.index("--")
    base = load(argv[:split])
    cand = load(argv[split + 1:])
    if not base or not cand:
        print(__doc__)
        return 2
    try:
        bm = [(p, metrics(d)) for p, d in base]
        cm = [(p, metrics(d)) for p, d in cand]
    except ValueError as e:
        print(e)
        return 2

    # stream-family ceiling map from the BASELINE runs: per config
    # family (key with the trailing rate segment stripped), the set of
    # offered rates and the best events/s ever demonstrated — the
    # at-ceiling adjudication needs demonstrated-headroom evidence —
    # plus per-config BASELINE INSTABILITY evidence (r17, ADVICE r16):
    # a row is only at-ceiling if the baseline itself slipped there
    fam_rates, fam_ceiling, cfg_info, cfg_unstable = {}, {}, {}, {}
    for _, d in base:
        if d.get("metric") != "stream_bench":
            continue
        for cfg, c in d.get("configs", {}).items():
            if c["events_per_sec"] is None:
                continue
            fam = re.sub(r"@r?\d+$", "", cfg)
            off = float(c.get("offered", 0))
            eps = float(c["events_per_sec"])
            cfg_info[cfg] = (fam, off)
            fam_rates.setdefault(fam, set()).add(off)
            fam_ceiling[fam] = max(fam_ceiling.get(fam, 0.0), eps)
            unstable = (not c.get("steady", True)) or (off > 0
                                                       and eps < 0.9 * off)
            cfg_unstable[cfg] = cfg_unstable.get(cfg, False) or unstable

    def at_ceiling(name):
        cfg = name.rsplit(".", 1)[0]
        if cfg not in cfg_info:
            return False
        fam, off = cfg_info[cfg]
        return (len(fam_rates.get(fam, ())) >= 2
                and off > 0
                and fam_ceiling.get(fam, 0.0) < off * CEIL_BAND
                and cfg_unstable.get(cfg, False))

    bnames = set.intersection(*(set(m) for _, (m, _) in bm))
    cnames = set.intersection(*(set(m) for _, (m, _) in cm))
    names = sorted(bnames & cnames)
    print(f"baseline runs: {len(bm)}  candidate runs: {len(cm)}  "
          f"common metrics: {len(names)}")
    flagged = []
    for label, only in (("baseline-only", sorted(bnames - cnames)),
                        ("candidate-only", sorted(cnames - bnames))):
        if only:
            print(f"NOT COMPARED ({label}, {len(only)}): {', '.join(only)}")
    # a metric every baseline run carried but the candidate lost is a
    # regression, not a shrug (ADVICE r15) — unless it is the p50 of an
    # at-ceiling row (the ONE metric a non-steady run legitimately
    # drops; a missing events_per_sec means the config never ran and
    # always flags — ADVICE r16)
    for m in sorted(bnames - cnames):
        if m.endswith(".batch_ms_p50") and at_ceiling(m):
            print(f"CEIL missing {m}: at-ceiling row's p50, not gated")
        else:
            flagged.append(f"missing:{m}")
    # a stream config with a null rate never ran, in either side's runs
    for p, d in base + cand:
        if d.get("metric") == "stream_bench":
            flagged += [f"never_ran[{p}]:{cfg}"
                        for cfg, c in d.get("configs", {}).items()
                        if c["events_per_sec"] is None]
    if not names:
        print("no comparable metrics")
        if flagged:
            print(f"FLAGGED ({len(flagged)}): {', '.join(flagged)}")
        return 1 if flagged else 2

    for n in names:
        hib = bm[0][1][0][n][1]
        bvals = [m[n][0] for _, (m, _) in bm]
        cvals = [m[n][0] for _, (m, _) in cm]
        if hib:
            best = max(bvals)
            bad = max(cvals) < best / SPREAD
            arrow = f"{best:.1f} -> {max(cvals):.1f} (best runs)"
        else:
            best = min(bvals)
            bad = min(cvals) > SPREAD * max(best, 1.0)
            arrow = f"{best:.1f} -> {min(cvals):.1f} (best runs)"
        if bad and at_ceiling(n):
            print(f"CEIL {n}: {arrow} (at-ceiling, context)")
            continue
        marker = "FLAG" if bad else "  ok"
        print(f"{marker} {n}: {arrow}")
        if bad:
            flagged.append(n)
    # a candidate run where any scale query FAILED must not exit 0 just
    # because its metrics dropped out of the comparison (ADVICE r15)
    for p, d in cand:
        if d.get("metric") == "scale_bench" and d.get("failed"):
            flagged.append(f"failed_queries[{p}]:{','.join(d['failed'])}")
    for _, (_, ctx) in bm[:1] + cm[:1]:
        for c in ctx:
            print(f"  context: {c}")
    # driver-heap growth gate (VERDICT r14 item 6, BINDING since r16):
    # for scale_bench candidates, max-scale heap must stay within the
    # same-code band of the 1x heap IN THE SAME RUN — the cheapest
    # tripwire for a driver-side-state regression. All candidate runs
    # must exceed the band to flag (one run is noise, the shared-host
    # rule). The floor history: the r15 gauge (single advisory GC, q72
    # label memo still pinning localCheckpoint blocks) read 412 vs 885
    # MB on the IDENTICAL same-code 10x point, so the floor had to sit
    # at 512 MB/5% heap to mean anything. The r16 gauge (memo release +
    # 3 GC passes) read 288 vs 289 MB on the same-code pair at sf0.1 —
    # 1 MB spread, with a systematic data-proportional residue of ~133
    # MB over the 1x point — so the floor is now 256 MB (~2x the
    # measured residue, 250x the measured noise): a real driver-state
    # regression that grows with data clears it at the next scale-up,
    # and nothing measured on healthy code comes near it.
    heap_ratios = []
    for p, d in cand:
        if d.get("metric") != "scale_bench":
            continue
        t = d.get("tiles")
        h1, hn = d.get("heap_after_gc_mb_1x"), d.get(f"heap_after_gc_mb_{t}x")
        if h1 and hn:
            floor = max(256.0, 0.02 * float(d.get("heap_max_mb") or 0))
            heap_ratios.append((p, hn / max(float(h1), 1.0), hn - h1, floor))
    if heap_ratios:
        for p, r, delta, floor in heap_ratios:
            print(f"  heap growth {p}: {r:.2f}x, delta {delta:.0f} MB "
                  f"(band {SPREAD}, material floor {floor:.0f} MB)")
        if all(r > SPREAD and delta > floor for _, r, delta, floor in heap_ratios):
            flagged.append("heap_after_gc_growth")
    if flagged:
        print(f"FLAGGED ({len(flagged)}): {', '.join(flagged)}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
