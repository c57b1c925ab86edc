#!/usr/bin/env python3
"""Fold per-SF bench artifacts into the committed SCALE_AUDIT.md — the
re-runnable, diffable form of the no-superlinear claim (round-6 verdict
next-round #5; the ad-hoc /tmp paths of earlier rounds made the audit
unrepeatable).

Usage:
  python3 tools/scale_audit.py sf0.001=a.json sf0.01=b.json \
      sf0.1=c.json [sf0.3=d.json] [sf1=e.json,f.json] [--out SCALE_AUDIT.md]

Each artifact is the one-line JSON written by `graft.Bench`
(bench_out.json) at that corpus point. A comma-separated list of
artifacts for one point is min-merged per query — the same min-of-runs
rule the bench itself applies across re-times, for points measured
more than once (totals/wall/gc report the LAST artifact's run plus the
merged per-query headline total). Labels sf0.001/sf0.01/sf0.1 are
the driver corpora; sf0.3/sf1 are the LOCAL decorrelated-copy corpora
built by `tools/make_sf03.py` (3 and 10 key-shifted copies of sf0.1 —
every table grows exactly 3x/10x there).

For every ADJACENT pair of the given points, each query's time ratio is
compared against the row-growth factor of the table family the query
reads (see family()); a query is flagged SUPER only if it grows faster
than its family's rows AND its larger-point time exceeds a noise floor
(sub-0.3 s timings are scheduler noise, not scaling signal).

Driver-side tooling only — the shipped library is pure Scala/Spark.
"""
import datetime
import json
import subprocess
import sys

# Row growth per adjacent corpus pair, by table family. The driver's
# documents/embeddings tables are CONSTANT between sf0.001 and sf0.01
# (500 rows each) and grow 10x/4x into sf0.1; the local copy corpora
# grow every table uniformly. "const" is the fixed-n synthetic-features
# surface (generator n does not scale with sf).
PAIR_FACTORS = {
    ("sf0.001", "sf0.01"): {"star": 10, "events": 10, "docs": 1,
                            "embed": 1, "const": 1},
    ("sf0.01", "sf0.1"): {"star": 10, "events": 10, "docs": 10,
                          "embed": 4, "const": 1},
    ("sf0.1", "sf0.3"): {"star": 3, "events": 3, "docs": 3,
                         "embed": 3, "const": 1},
    ("sf0.1", "sf1"): {"star": 10, "events": 10, "docs": 10,
                       "embed": 10, "const": 1},
    ("sf0.3", "sf1"): {"star": 10 / 3, "events": 10 / 3, "docs": 10 / 3,
                       "embed": 10 / 3, "const": 1},
    ("sf1", "sf3"): {"star": 3, "events": 3, "docs": 3,
                     "embed": 3, "const": 1},
}

NOISE_FLOOR_SEC = 0.3

# Flags with a committed inherent-cost diagnosis: the flag stays VISIBLE
# (annotated, never hidden) but is excluded from the failing count.
# EMPTIED in round 9: the banded-LSH quadratic collision term (the three
# round-8 entries) was fixed by corpus-adaptive key geometry
# (Dedup.adaptiveGeometry / the Manku multi-block keys), so a SUPER flag
# on those queries is a plan defect again, not an inherent cost.
INHERENT = {}

# Per-row scan operators: zero wide exchange in the plan (or narrow
# shuffles bounded by output rows), so cost is c*n by construction and
# CANNOT be algorithmically superlinear. Round 9 established (fresh-JVM
# BenchOne isolation, SCALE_AUDIT.md isolation section) that the round-8
# 3-4x sf3 overshoots on this family were (a) the audit corpora's
# one-row-group parquet structure serializing every per-row pipeline
# onto one task (fixed: make_sf03.py writes 8192-row groups) and (b)
# per-row JDK service lookups contending under concurrency (fixed:
# per-partition reader caches). Isolation ratios are now 0.95-1.25x, so
# the saturation tolerance is tightened to 3.5x; an overshoot inside it
# on the one-JVM full-protocol sf3 point is annotated (visible), beyond
# it counted as a defect.
PER_ROW = {
    "q_mm_decode", "q_mm_audio_features", "q_mm_image_features",
    "q_mm_dhash", "q_dedup_embed_signs", "q_sim_quantize",
    "q_text_quality", "q_text_repetition", "q_text_chunk_windows",
    "q_text_token_accounting", "q_text_corpus_final",
}


def family(name):
    """Table family a query reads, by declared-name prefix.

    NOTE: this prefix list must track the Scala query registry — a new
    embeddings-reading query outside these prefixes silently inherits
    the (stricter) star threshold, which can only over-flag, never
    mask. Misclassifying a docs query as star is lenient only on the
    sf0.001->sf0.01 pair and exact everywhere else. q_ml_* score the
    embeddings table (linearPredictions), q_corr_* scan lineitem
    (star), and only the fixed-n synthetic-features surface is const."""
    if name.startswith(("q_sim_", "q_dedup_embed", "q_knn", "q_ml_")):
        return "embed"
    if name.startswith(("q_synth", "q_histogram_features",
                        "q_kde_features")):
        return "const"
    if name.startswith(("q_dedup_", "q_text_", "q_mm_")):
        return "docs"
    if name.startswith(("q_evt_", "q_stream_", "q_sess")):
        return "events"
    return "star"


def main(argv):
    out_path = "SCALE_AUDIT.md"
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    pairs = []
    for a in argv:
        if "=" not in a:
            sys.exit(f"expected label=artifact.json, got {a}")
        lbl, path = a.split("=", 1)
        pairs.append((lbl, path))

    labels = [l for l, _ in pairs]
    runs = {}
    for lbl, path in pairs:
        arts = []
        for p in path.split(","):
            with open(p) as f:
                arts.append(json.load(f))
        merged = arts[-1]
        if len(arts) > 1:
            qs = {}
            for a in arts:
                for n, s in a["queries"].items():
                    qs[n] = min(qs.get(n, s), s)
            merged = dict(merged, queries=qs, value=sum(qs.values()),
                          n_runs_merged=len(arts))
        runs[lbl] = merged

    rev = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                         capture_output=True, text=True).stdout.strip()
    today = datetime.date.today().isoformat()
    names = sorted({n for r in runs.values() for n in r["queries"]})
    adj = list(zip(labels, labels[1:]))

    lines = []
    lines.append(f"# SCALE AUDIT — {today}, rev {rev}")
    lines.append("")
    lines.append("Per-query bench seconds (min-of-runs headline) across "
                 "corpus points, with each adjacent ratio compared to the "
                 "row growth of the table family the query reads. "
                 "Regenerate: `tools/scale_audit.py` over `graft.Bench` "
                 "artifacts (see header of that script). CAVEAT on the "
                 "largest local points: every point runs in ONE "
                 "local[32] JVM (a 30x corpus in one process at sf3) "
                 "and this host shows seconds-scale phantom-load "
                 "bursts, so treat a single-run SUPER flag as a "
                 "hypothesis, not a verdict — fresh-JVM `graft.Bench "
                 "<query>` isolation (3 repeats, min) is the arbitration, "
                 "recorded in the isolation section below. Round 9's "
                 "arbitration found and fixed three real scale defects "
                 "(quadratic band keys, one-row-group audit corpora, "
                 "per-row JDK service lookups); every surviving flag "
                 "must carry either a fix or an isolation refutation.")
    lines.append("")
    lines.append("| point | queries | total s | wall s | gc s | retimed | >2x steady |")
    lines.append("|---|---|---|---|---|---|---|")
    for lbl in labels:
        r = runs[lbl]
        lines.append(
            f"| {lbl} | {len(r['queries'])} | {r['value']:.1f} | "
            f"{r.get('wall_total', float('nan')):.1f} | "
            f"{r.get('gc_total', 0):.1f} | {r.get('stalls_retimed', '-')} | "
            f"{r.get('n_above_2x_steady', '-')} |")
    lines.append("")

    hdr = "| query | fam | " + " s | ".join(labels) + " s | " + \
        " | ".join(f"{a}→{b} (≤{PAIR_FACTORS.get((a, b), {}).get('star', '?'):.0f}x star)"
                   for a, b in adj) + " | flag |"
    lines.append(hdr)
    lines.append("|" + "---|" * (2 + len(labels) + len(adj) + 1))
    flagged = []
    for n in names:
        fam = family(n)
        secs = [runs[l]["queries"].get(n) for l in labels]
        cells = " | ".join("-" if s is None else f"{s:.2f}" for s in secs)
        ratio_cells, flags = [], []
        for (a, b) in adj:
            sa, sb = runs[a]["queries"].get(n), runs[b]["queries"].get(n)
            if not sa or not sb:
                ratio_cells.append("-")
                continue
            ratio = sb / sa
            ratio_cells.append(f"{ratio:.2f}")
            factor = PAIR_FACTORS.get((a, b), {}).get(fam)
            # flat pairs (the family's rows do not grow at all) measure
            # pure fixed overhead, where scheduler jitter swamps the
            # signal — tolerate 1.5x and a higher absolute floor there;
            # growing pairs are held to the exact row-growth factor
            if factor:
                tol = 1.5 if factor == 1 else 1.0
                floor = 0.5 if factor == 1 else NOISE_FLOOR_SEC
                if ratio > factor * tol and sb > floor:
                    if (n, f"{a}→{b}") in INHERENT:
                        flags.append(f"SUPER(inherent):{a}→{b}")
                    elif n in PER_ROW and b == "sf3" and ratio <= 3.5:
                        flags.append(f"SUPER(saturation):{a}→{b}")
                    else:
                        flags.append(f"SUPER:{a}→{b}")
        if flags:
            flagged.append((n, flags))
        lines.append(f"| {n} | {fam} | {cells} | " +
                     " | ".join(ratio_cells) + f" | {','.join(flags)} |")

    lines.append("")
    inh = [(n, fl) for n, fl in flagged
           if all("(inherent)" in f for f in fl)]
    sat = [(n, fl) for n, fl in flagged
           if all("(saturation)" in f for f in fl)]
    flagged = [(n, fl) for n, fl in flagged
               if not all("(inherent)" in f or "(saturation)" in f
                          for f in fl)]
    if inh:
        lines.append(f"**INHERENT ({len(inh)})** (documented cost model, "
                     "not plan defects): " + "; ".join(
                         f"{n} — {INHERENT[(n, f.split(':', 1)[1])]}"
                         for n, fl in inh for f in fl) )
        lines.append("")
    if sat:
        lines.append(f"**SATURATION ({len(sat)})** (per-row plans, no "
                     "wide exchange — linear by construction; the one-JVM "
                     "sf3 overshoot is the gc-column saturation, see "
                     "preamble): " + "; ".join(n for n, _ in sat))
        lines.append("")
    if flagged:
        lines.append(f"**FLAGGED ({len(flagged)})**: " + "; ".join(
            f"{n} ({','.join(fl)})" for n, fl in flagged))
    else:
        lines.append("**No query grows faster than its table family's row "
                     "count on any adjacent pair of points.**")
    lines.append("")

    text = "\n".join(lines) + "\n"
    with open(out_path, "w") as f:
        f.write(text)
    print(text)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main(sys.argv[1:])
