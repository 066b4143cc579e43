#!/usr/bin/env python3
"""Tier-1 accounting: passed and failed counts from sbt's JUnit reports.

Usage (from the repository root, after `sbt "testOnly *"`):
  python3 tools/tier1_report.py [REPORTS_DIR]

REPORTS_DIR defaults to target/test-reports. The script prints the counts,
names every failure that is not one of the KNOWN failures below, and exits
1 if there is such a failure (2 if there are no reports). It only reads
the reports; it runs, skips and changes no test.

KNOWN lists the 19 tests that fail when the reference snapshot's Paris
geometry (neighbourhoods_paris.jsonl) is absent: each reads that file, or
plans a query that does, and fails with PATH_NOT_FOUND (ROADMAP.md, open
item 0).
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

KNOWN = {
    "graft.CellGridSpec::scanline fill equals per-center geographic containment (Paris rings)",
    "graft.CellJoinRewriteSpec::interior-flagged candidate cells imply exact containment (ray-cast skip sound)",
    "graft.CellJoinRewriteSpec::non-tiny point_in_ring join rewrites to the cell-cover equi-join shape",
    "graft.CellJoinRewriteSpec::pure-SQL point_in_ring join is rewritten too (the SQL-surface path)",
    "graft.CellJoinRewriteSpec::point_in_ring as one conjunct of a larger ON clause still rewrites, same results",
    "graft.CellJoinRewriteSpec::mirrored orientation (areas on the left) is rewritten symmetrically",
    "graft.CellJoinRewriteSpec::non-deterministic point args keep the nested loop (no double evaluation)",
    "graft.CellJoinRewriteSpec::already-equi-keyed joins never gain a second cover (assignViaCells untouched)",
    "graft.CellJoinRewriteSpec::rewritten assign == manual assignViaCells == un-rewritten nested loop",
    "graft.ParisGeometrySpec::ETL: 98 zones, 20 arrondissements + 78 quartiers, valid rings",
    "graft.ParisGeometrySpec::landmark containment: Louvre, Eiffel, Sacré-Cœur districts",
    "graft.ParisGeometrySpec::broadcast and cell-prefilter paths agree on a Paris-wide lattice",
    "graft.PipelineSpec::e2e volume pipeline composes: drops, districts and decisions reach the scored table",
    "graft.PlanHygieneSpec::no query plans a cartesian/nested-loop join outside the singleton allowlist",
    "graft.RingAssemblySpec::ETL path: real Paris rings reassemble from shuffled member segments",
    "graft.SinkSpec::S14 sql-codegen sink: escaped upsert script assembles in order",
    "graft.SpatialParitySpec::cell prefilter PRUNES at volume: candidates << points x areas",
    "graft.SpatialParitySpec::assignViaCells == assign on a volume sample over the real 98 rings",
    "graft.ops.ScaleProofSpec::pipe_e2e_vol slope sf0.01 -> sf0.1: the composed pipeline is linear in its input",
}


def outcomes(reports_dir):
    """(test id, outcome, first message line) for every test case."""
    out = []
    for path in sorted(glob.glob(os.path.join(reports_dir, "*.xml"))):
        for case in ET.parse(path).getroot().iter("testcase"):
            tid = f"{case.get('classname')}::{case.get('name')}"
            bad = [c for c in case if c.tag in ("failure", "error")]
            if bad:
                msg = (bad[0].get("message") or bad[0].text or "").strip()
                out.append((tid, "failed", msg.splitlines()[0] if msg else ""))
            elif any(c.tag == "skipped" for c in case):
                out.append((tid, "skipped", ""))
            else:
                out.append((tid, "passed", ""))
    return out


def main():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    reports = sys.argv[1] if len(sys.argv) > 1 else os.path.join(root, "target", "test-reports")
    rows = outcomes(reports)
    if not rows:
        print(f"tier1: no test reports under {reports}", file=sys.stderr)
        return 2
    failed = [r for r in rows if r[1] == "failed"]
    known = [r for r in failed if r[0] in KNOWN]
    unknown = [r for r in failed if r[0] not in KNOWN]
    passed = sum(r[1] == "passed" for r in rows)
    skipped = sum(r[1] == "skipped" for r in rows)
    print(f"tier1: {passed}/{len(rows)} passed, {len(failed)} failed "
          f"({len(known)} of the {len(KNOWN)} known), {skipped} skipped")
    recovered = sorted(KNOWN & {r[0] for r in rows if r[1] == "passed"})
    for tid in recovered:
        print(f"  known failure now passes: {tid}")
    for tid, _, msg in unknown:
        print(f"  NEW FAILURE: {tid}: {msg[:300]}")
    return 1 if unknown else 0


if __name__ == "__main__":
    sys.exit(main())
