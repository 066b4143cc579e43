#!/usr/bin/env python3
"""Calibration-normalized cross-round bench compare (NOT part of the library).

Usage: python3 tools/benchdiff.py BENCH_rA.json BENCH_rB.json [--reprobe[=SFDIR]]
       python3 tools/benchdiff.py --perfbench RESULTS.txt [--base SIDE] [--spec BENCHMARK.json]

Perfbench mode reads A/B runs of the repository benchmark (perfbench/run.py).
Each line of RESULTS.txt is `SIDE PAIR WORKLOAD JSON`: a side label (e.g.
parent, change), the pair index, the workload, and the JSON line run.py
printed last. For each workload x end-to-end metric of BENCHMARK.json it
prints both sides' medians and quartiles, how many pairs the other side won,
the median of the per-pair ratios (other / base), and the verdict against
the metric's bound; then each side's count of incorrect runs and fail ratio.
The base side is --base, else the first side in the file. A GAIN takes at
least 10 pairs: the metric is better in at least nine tenths of them and its
median moved by more than the base side's interquartile range.

With --reprobe, every REGRESSED flag is auto-adjudicated: the flagged set is
re-run in isolation (SPARK_GRAFT_BENCH_ONLY, n=10 samples) on SFDIR (default
/root/testdata/sf0.1), each flag is re-judged against the fresh isolated min,
and both measurements land in a "reprobes" section appended to the B-side
archive — the by-hand noise-refutation loop the judge ran in r13, automated.

Joins the two rounds' per-query min timings, normalizes the newer round by
the ratio of the runs' calibration-probe medians (the probe is
data-independent, so it transfers across sessions/boxes), and flags only the
deltas that exceed the runs' own recorded noise envelope (spread_p95) — the
comparison logic the bench protocol's data was designed for.

Accepts either the driver artifact shape ({"parsed": {...}, "tail": "..."}),
a raw Bench stdout capture (the two JSON lines), or Bench's own complete
bench_full.json artifact. Given a driver BENCH_r{N}.json whose tail is
truncated, a sibling bench_full_r{N}.json (archive bench_full.json under
that name when the round's artifacts land) is PREFERRED — it carries every
query, not the tail fragment. Truncated tails are salvaged per-entry by
regex as the last resort.
"""
import sys, os, json, re, statistics


def extract_json_objects(text):
    """Every parseable {...} object found in the text (whole lines first)."""
    out = []
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                out.append(json.loads(line))
                continue
            except ValueError:
                pass
    for m in re.finditer(r'\{"metric":', text):
        depth, i = 0, m.start()
        for j in range(m.start(), len(text)):
            if text[j] == "{":
                depth += 1
            elif text[j] == "}":
                depth -= 1
                if depth == 0:
                    try:
                        out.append(json.loads(text[i:j + 1]))
                    except ValueError:
                        pass
                    break
    return out


def salvage_map(text, key):
    """Per-entry regex salvage of a possibly-truncated '"key":{...}' map."""
    m = re.search('"%s":\\{' % re.escape(key), text)
    if not m:
        return {}
    frag = text[m.end():]
    end = frag.find("}")
    if end >= 0:
        frag = frag[:end]
    return {k: float(v) for k, v in
            re.findall(r'"([A-Za-z0-9_]+)":([0-9.eE+-]+)', frag)}


NON_QUERY_KEYS = {"metric", "value", "unit", "sf", "n", "rc", "cpus",
                  "total_min", "spread_p95", "spread_max", "num_queries",
                  "num_errors", "box_loaded"}


def salvage_pairs(text):
    """Last resort for a truncated artifact: any "name":float pairs in the
    tail fragment — these are per-query MEDIANS from the long first line."""
    pairs = {}
    for k, v in re.findall(r'"([A-Za-z0-9_]+)":([0-9]+\.[0-9eE+-]+)', text):
        if k not in NON_QUERY_KEYS:
            pairs[k] = float(v)
    return pairs


def load_round(path):
    # prefer the complete on-disk artifact over the driver's truncated tail:
    # BENCH_r12.json -> bench_full_r12.json alongside it, if archived
    m = re.match(r"BENCH_r(\d+)\.json$", os.path.basename(path))
    if m:
        full = os.path.join(os.path.dirname(path) or ".",
                            f"bench_full_r{m.group(1)}.json")
        if os.path.exists(full):
            # a stale archive silently substituting for a re-captured driver
            # artifact would hide (or invent) regressions — warn loudly
            if os.path.getmtime(full) < os.path.getmtime(path):
                print(f"# WARNING: {os.path.basename(full)} is OLDER than "
                      f"{os.path.basename(path)} — archived full artifact may be "
                      "stale; re-archive bench_full.json from the same run",
                      file=sys.stderr)
            path = full
    raw = open(path).read()
    info = {"queries_min": {}, "calib": [], "calib_scan": [],
            "spread_p95": None,
            "contended": [], "label": os.path.basename(path), "stat": "min",
            "path": path}
    candidates = []
    try:
        d = json.loads(raw)
        if isinstance(d, dict):
            if isinstance(d.get("parsed"), dict):
                candidates.append(d["parsed"])
            if isinstance(d.get("tail"), str):
                candidates.extend(extract_json_objects(d["tail"]))
                if not any("queries_min" in c for c in candidates):
                    sal = salvage_map(d["tail"], "queries_min")
                    if sal:
                        candidates.append({"queries_min": sal})
            if "queries_min" in d:
                candidates.append(d)
    except ValueError:
        candidates.extend(extract_json_objects(raw))
    for c in candidates:
        if isinstance(c.get("queries_min"), dict) and not info["queries_min"]:
            info["queries_min"] = c["queries_min"]
        elif isinstance(c.get("queries"), dict) and not info["queries_min"]:
            info["queries_min"], info["stat"] = c["queries"], "median"
        if isinstance(c.get("calib"), list) and not info["calib"]:
            info["calib"] = [x for x in c["calib"] if isinstance(x, (int, float))]
        if isinstance(c.get("calib_scan"), list) and not info["calib_scan"]:
            info["calib_scan"] = [x for x in c["calib_scan"]
                                  if isinstance(x, (int, float))]
        if isinstance(c.get("spread_p95"), (int, float)) and info["spread_p95"] is None:
            info["spread_p95"] = c["spread_p95"]
        if isinstance(c.get("contended"), list) and not info["contended"]:
            info["contended"] = c["contended"]
    if not info["queries_min"]:
        try:
            d = json.loads(raw)
            tail = d.get("tail", "") if isinstance(d, dict) else ""
        except ValueError:
            tail = raw
        sal = salvage_pairs(tail)
        if sal:
            info["queries_min"], info["stat"] = sal, "salvaged-median"
    return info


def reprobe(flagged_rows, b_path, threshold, sfdir, cal_a=None):
    """Re-run just the REGRESSED queries in isolation (n=10) and re-judge
    each flag against the fresh min; persist both measurements.

    The isolated min is judged under the SAME yardstick as the original
    comparison: the fresh run's own calibration probe (graft.Bench always
    emits one) is medianed and the isolated time is scaled by
    cal_a/cal_iso before the threshold test. Without this, a box slower or
    faster than round A's session re-adjudicates raw seconds against
    normalized ones — confirming noise or refuting real regressions."""
    import subprocess
    names = [q for q, _, _, _, v in flagged_rows if v == "REGRESSED"]
    if not names:
        print("# reprobe: nothing REGRESSED, no re-run needed")
        # still refresh the archive: a stale reprobes section from an earlier
        # (differently-judged) run must not outlive its flags
        try:
            d = json.load(open(b_path))
            if isinstance(d, dict) and d.get("reprobes"):
                d["reprobes"] = {}
                json.dump(d, open(b_path, "w"))
                print(f"# reprobe: cleared stale reprobes section in {b_path}")
        except ValueError:
            pass
        return
    print(f"# reprobe: re-running {len(names)} flagged queries in isolation "
          f"(n=10, sf={sfdir}) ...")
    env = dict(os.environ,
               SPARK_GRAFT_BENCH_ONLY=",".join(names),
               SPARK_GRAFT_BENCH_N="10",
               SPARK_GRAFT_SF_DIR=sfdir,
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    out = subprocess.run(
        ["sbt", "-batch", "runMain graft.Bench"], env=env, cwd="/root/repo",
        capture_output=True, text=True, timeout=3600).stdout
    fresh, cal_iso = {}, None
    for obj in extract_json_objects(out):
        if isinstance(obj.get("queries_min"), dict) and not fresh:
            fresh = obj["queries_min"]
        if isinstance(obj.get("calib"), list) and cal_iso is None:
            probes = [x for x in obj["calib"] if isinstance(x, (int, float))]
            if probes:
                cal_iso = statistics.median(probes)
    if not fresh:
        print("# reprobe: FAILED to parse isolated run output — flags stand")
        return
    iso_norm_ratio = (cal_a / cal_iso) if (cal_a and cal_iso) else 1.0
    print(f"# reprobe: isolated calib_med={cal_iso}, normalizing by "
          f"cal_A/cal_iso={iso_norm_ratio:.3f} (same yardstick as the "
          "original comparison)")
    section = {}
    for q, ta, tbn, ratio, flag_verdict in flagged_rows:
        if q not in fresh:
            # a REGRESSED flag the isolated run produced no sample for (it
            # errored or vanished from the registry) must not silently drop
            # from the persisted section — the archive would then read as if
            # every flag was re-judged (r15 advice). Non-REGRESSED flags
            # (BOX-SHIFT/NEW/GONE/CONTENDED) were never re-run by design.
            if flag_verdict == "REGRESSED":
                section[q] = {"orig_min_A": ta, "flagged_min_B_norm": tbn,
                              "flagged_ratio": ratio,
                              "verdict": "UNADJUDICATED"}
                print(f"# reprobe {q}: MISSING from isolated run output -> "
                      "UNADJUDICATED (flag stands unjudged)")
            continue
        iso = fresh[q]
        iso_n = iso * iso_norm_ratio
        # two-yardstick rule, same as the main comparison: the isolated floor
        # confirms a regression only when the RAW and the NORMALIZED ratio
        # both exceed the threshold; a one-sided exceedance is the box
        # differing in a dimension the CPU probe mis-scales
        both = ta is not None and ta > 0 and \
            iso_n / ta > threshold and iso / ta > threshold
        one = ta is not None and ta > 0 and \
            (iso_n / ta > threshold or iso / ta > threshold)
        verdict = ("REGRESSION_CONFIRMED" if both
                   else "box_shift" if one else "noise")
        section[q] = {"orig_min_A": ta, "flagged_min_B_norm": tbn,
                      "flagged_ratio": ratio, "isolated_min_raw": iso,
                      "isolated_calib_med": cal_iso,
                      "isolated_min_norm": iso_n,
                      "isolated_ratio_raw": (iso / ta) if ta else None,
                      "isolated_ratio": (iso_n / ta) if ta else None,
                      "verdict": verdict}
        print(f"# reprobe {q}: isolated_min={iso:.3f}s (norm {iso_n:.3f}s) "
              f"vs A={ta:.3f}s -> {verdict}")
    # persist into the B-side archive so the round's artifact carries the
    # adjudication, not just this terminal
    try:
        d = json.load(open(b_path))
        if isinstance(d, dict):
            d["reprobes"] = section
            json.dump(d, open(b_path, "w"))
            print(f"# reprobe: recorded {len(section)} adjudications in {b_path}")
    except ValueError:
        print(f"# reprobe: {b_path} is not a plain JSON artifact — "
              "adjudications printed above only")


def quartiles(xs):
    """(q1, median, q3) of a sample, linear interpolation between order
    statistics (the inclusive method, defined for one value too)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def load_perfbench(path):
    """{workload: {side: {pair: result}}} from `SIDE PAIR WORKLOAD JSON`
    lines, and the sides in order of first appearance."""
    runs, sides = {}, []
    for n, line in enumerate(open(path), 1):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split(None, 3)
        if len(parts) < 4:
            sys.exit(f"{path}:{n}: expected SIDE PAIR WORKLOAD JSON")
        side, pair, workload, blob = parts
        try:
            res = json.loads(blob)
        except ValueError:
            sys.exit(f"{path}:{n}: the result is not a JSON object")
        if side not in sides:
            sides.append(side)
        runs.setdefault(workload, {}).setdefault(side, {})[pair] = res
    return runs, sides


def perfbench_main(args):
    if not args:
        sys.exit(__doc__)
    path, base, spec_path = args[0], None, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    rest = args[1:]
    while rest:
        if rest[0] == "--base" and len(rest) > 1:
            base, rest = rest[1], rest[2:]
        elif rest[0] == "--spec" and len(rest) > 1:
            spec_path, rest = rest[1], rest[2:]
        else:
            sys.exit(__doc__)
    spec = json.load(open(spec_path))
    runs, sides = load_perfbench(path)
    if len(sides) != 2:
        sys.exit(f"expected two sides, found {sides}")
    base = base or sides[0]
    if base not in sides:
        sys.exit(f"--base {base} is not one of {sides}")
    other = sides[1] if sides[0] == base else sides[0]
    print(f"# base={base} other={other}; ratio = {other} / {base}; "
          "quartiles [q1, q3] by the inclusive method")
    print(f"{'workload':8} {'metric':12} {base + ' median [q1, q3]':>28} "
          f"{other + ' median [q1, q3]':>28} {'won':>6} {'ratio':>6}  verdict")
    for workload in sorted(runs):
        by_side = runs[workload]
        pairs = sorted(set(by_side.get(base, {})) & set(by_side.get(other, {})),
                       key=lambda p: (len(p), p))
        if not pairs:
            print(f"{workload:8} no complete pair")
            continue
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            a = [by_side[base][p]["metrics"][name]["value"] for p in pairs]
            b = [by_side[other][p]["metrics"][name]["value"] for p in pairs]
            qa, qb = quartiles(a), quartiles(b)
            won = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
            ratio = statistics.median(y / x for x, y in zip(a, b) if x)
            worse = (qb[1] / qa[1] - 1) if lower else (1 - qb[1] / qa[1])
            if worse > m["bound"]:
                verdict = f"WORSE beyond bound {m['bound']}"
            else:
                verdict = f"within bound {m['bound']}"
            shift, iqr = abs(qb[1] - qa[1]), qa[2] - qa[0]
            if worse < 0 and won >= 0.9 * len(pairs) and shift > iqr:
                verdict += "; GAIN" if len(pairs) >= 10 else "; gain-shaped, < 10 pairs"
            fmt = lambda q: f"{q[1]:9.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"{workload:8} {name:12} {fmt(qa):>28} {fmt(qb):>28} "
                  f"{won:>2}/{len(pairs):<3} {ratio:6.3f}  {verdict}")
        for side in (base, other):
            rs = list(by_side[side].values())
            bad = sum(1 for r in rs if not r.get("correct"))
            att = sum(r.get("attempted", 0) for r in rs)
            fail = sum(r.get("failed", 0) for r in rs)
            print(f"{workload:8} {side}: {len(rs)} runs, {bad} incorrect, "
                  f"fail_ratio {fail / max(att, 1):.4g}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--perfbench":
        return perfbench_main(sys.argv[2:])
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    do_reprobe, sfdir = False, "/root/testdata/sf0.1"
    for arg in sys.argv[3:]:
        if arg.startswith("--reprobe"):
            do_reprobe = True
            if "=" in arg:
                sfdir = arg.split("=", 1)[1]
        else:
            sys.exit(__doc__)
    a, b = load_round(sys.argv[1]), load_round(sys.argv[2])
    if not a["queries_min"] or not b["queries_min"]:
        sys.exit("could not recover queries_min from one of the rounds "
                 f"(A: {len(a['queries_min'])} queries, B: {len(b['queries_min'])})")
    cal_a = statistics.median(a["calib"]) if a["calib"] else None
    cal_b = statistics.median(b["calib"]) if b["calib"] else None
    norm = (cal_a / cal_b) if (cal_a and cal_b) else 1.0
    # a delta is only a verdict when it exceeds the rounds' own noise floor
    threshold = max(a["spread_p95"] or 1.0, b["spread_p95"] or 1.0, 1.2)
    floor = 0.05  # sub-50ms timings are pure noise at this harness

    print(f"# A={a['label']} ({a['stat']}, calib_med={cal_a})  "
          f"B={b['label']} ({b['stat']}, calib_med={cal_b})")
    # scan-probe context (r15+): the CPU probe misses the memory/scan
    # dimension — when the two probes drift by different ratios, the box
    # changed in a way CPU normalization cannot correct; treat cross-round
    # ratios with suspicion and lean on --reprobe
    scan_a = statistics.median(a["calib_scan"]) if a["calib_scan"] else None
    scan_b = statistics.median(b["calib_scan"]) if b["calib_scan"] else None
    if scan_a or scan_b:
        print(f"# scan probe: A calib_scan_med={scan_a}  B calib_scan_med={scan_b}"
              + ("  (same-SF scan probes; divergence from the CPU ratio means "
                 "a bandwidth-side box change)" if scan_a and scan_b else ""))
    print(f"# B normalized by calib ratio {norm:.3f}; "
          f"flag threshold {threshold:.2f}x (max spread_p95), floor {floor}s")
    # TWO-YARDSTICK RULE (r15): the CPU probe measures scalar arithmetic and
    # OVER-corrects scan/shuffle-bound queries when the boxes differ — the
    # r14->r15 compare normalized a fast box's times onto a 3.5x-slower
    # probe's clock and "confirmed" 74 regressions whose raw times had
    # improved. A verdict is only a verdict when the RAW and the NORMALIZED
    # ratio agree on it; disagreement is a box shift, not a code delta —
    # reported as BOX-SHIFT and left to --reprobe/A-B code checks.
    rows = []
    for q in sorted(set(a["queries_min"]) | set(b["queries_min"])):
        ta, tb = a["queries_min"].get(q), b["queries_min"].get(q)
        if ta is None:
            rows.append((q, ta, tb, None, "NEW"))
            continue
        if tb is None:
            rows.append((q, ta, tb, None, "GONE"))
            continue
        tbn = tb * norm
        ratio = tbn / ta if ta > 0 else float("inf")
        ratio_raw = tb / ta if ta > 0 else float("inf")
        if q in a["contended"] or q in b["contended"]:
            verdict = "CONTENDED"
        elif max(ta, tb, tbn) < floor:
            verdict = "ok"
        elif ratio > threshold and ratio_raw > threshold:
            verdict = "REGRESSED"
        elif ratio > threshold or ratio_raw > threshold:
            verdict = "BOX-SHIFT"  # one yardstick claims regression, other denies
        elif ratio < 1 / threshold and ratio_raw < 1 / threshold:
            verdict = "improved"
        else:
            verdict = "ok"
        rows.append((q, ta, tbn, ratio, verdict))
    flagged = [r for r in rows if r[4] not in ("ok",)]
    n_shift = sum(1 for r in rows if r[4] == "BOX-SHIFT")
    summarize_shift = n_shift > 20
    for q, ta, tbn, ratio, verdict in rows:
        if verdict == "ok" or (verdict == "BOX-SHIFT" and summarize_shift):
            continue
        ra = "-" if ta is None else f"{ta:8.3f}"
        rb = "-" if tbn is None else f"{tbn:8.3f}"
        rr = "-" if ratio is None else f"{ratio:5.2f}x"
        print(f"{verdict:10} {q:40} A={ra} Bn={rb} {rr}")
    if summarize_shift:
        print(f"# BOX-SHIFT x{n_shift}: the raw and CPU-normalized yardsticks "
              "disagree on that many queries — the boxes differ in a dimension "
              "the CPU probe mis-scales (see calib_scan); these are NOT code "
              "verdicts. Adjudicate with --reprobe or an A/B code build.")
    n_ok = sum(1 for r in rows if r[4] == "ok")
    print(f"# {n_ok}/{len(rows)} within noise; {len(flagged)} flagged above")
    if do_reprobe:
        reprobe(flagged, b["path"], threshold, sfdir, cal_a)


if __name__ == "__main__":
    main()
