"""Classify per-query deltas between two bench artifacts (full maps).

Round 11 re-established a trusted baseline (`BENCH_r11_quiet.json`,
`minima_trusted: true`, FULL per-query map — the compact driver tail
keeps only the slowest 12, which made cross-round attribution a
hand-job every round). This tool industrializes the attribution:

    python tools/bench_diff.py OLD.json NEW.json [--threshold SEC]

For every query present in both artifacts' ``queries`` maps it prints
one of:

* ``within-noise`` — |delta| <= max(old spread, new spread, threshold);
  the spread is each artifact's best-vs-second-best gap for the query
  (absent spreads default to the threshold).
* ``slower`` / ``faster`` — the minima moved beyond what either run's
  own noise can explain. These are the rows a round summary must
  attribute: a documented code cost, a code win, or (when the query is
  byte-unchanged — check ``git diff``) box-climate drift, which shows
  up as a broad one-sided shift rather than a few isolated rows.

When both artifacts carry per-query ``layers`` (bench.py records
them for each query's fastest sample), every slower / faster row is
followed by the deltas of the layers that split it: ``build_s`` and
``exec_s`` (plan construction vs execution), ``jobs``, ``tasks`` and
``python_s`` (Python-worker time).

Exit code is ALWAYS 0: deltas need human attribution, not a gate —
the trust gate lives in bench.py itself (``minima_trusted``).
"""

from __future__ import annotations

import json
import sys

#: floor for "could be noise" — timer jitter + JIT variance on a
#: sub-second query; per-query spreads below this are not meaningful
DEFAULT_THRESHOLD = 0.05


def classify(
    old: dict, new: dict, threshold: float = DEFAULT_THRESHOLD
) -> dict[str, list[tuple[str, float, float, float]]]:
    """{bucket: [(name, old_sec, new_sec, delta)]} over common queries.

    Buckets: "slower", "faster", "within_noise". Queries only in one
    artifact land in "added" / "removed" (name, 0/old, new/0, 0)."""
    qo, qn = old.get("queries", {}), new.get("queries", {})
    so, sn = old.get("queries_spread", {}), new.get("queries_spread", {})
    out: dict[str, list] = {
        "slower": [],
        "faster": [],
        "within_noise": [],
        "added": [],
        "removed": [],
    }
    for name in sorted(set(qo) | set(qn)):
        if name not in qo:
            out["added"].append((name, 0.0, qn[name], 0.0))
            continue
        if name not in qn:
            out["removed"].append((name, qo[name], 0.0, 0.0))
            continue
        delta = round(qn[name] - qo[name], 3)
        noise = max(
            so.get(name, threshold), sn.get(name, threshold), threshold
        )
        if abs(delta) <= noise:
            out["within_noise"].append((name, qo[name], qn[name], delta))
        elif delta > 0:
            out["slower"].append((name, qo[name], qn[name], delta))
        else:
            out["faster"].append((name, qo[name], qn[name], delta))
    out["slower"].sort(key=lambda r: -r[3])
    out["faster"].sort(key=lambda r: r[3])
    return out


#: the layers a moved row is attributed to, in print order
LAYER_KEYS = ("build_s", "exec_s", "jobs", "tasks", "python_s")


def layer_deltas(old: dict, new: dict, name: str) -> dict[str, float] | None:
    """{layer: new - old} for one query, or None unless both artifacts
    record that query's layers."""
    lo = old.get("layers", {}).get(name)
    ln = new.get("layers", {}).get(name)
    if lo is None or ln is None:
        return None
    return {k: round(ln[k] - lo[k], 4) for k in LAYER_KEYS if k in lo and k in ln}


def _load(path: str) -> dict:
    with open(path) as fh:
        art = json.load(fh)
    # driver-recorded rounds wrap the parsed line under "parsed"
    return art.get("parsed", art)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    threshold = DEFAULT_THRESHOLD
    for a in sys.argv[1:]:
        if a.startswith("--threshold"):
            threshold = float(a.split("=", 1)[1] if "=" in a else args.pop())
    if len(args) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    old, new = _load(args[0]), _load(args[1])
    # headline: ONLY value_minima is cross-round comparable (VERDICT
    # r11 #3 — medians ride the box's load waves; BENCH_r11_quiet's
    # median sat 21 s above the driver run's on byte-identical code)
    vm_o = old.get("value_minima", old.get("value"))
    vm_n = new.get("value_minima", new.get("value"))
    print(
        f"value_minima {vm_o} -> {vm_n} s  "
        "(medians intentionally not compared: not noise-stable)"
    )
    buckets = classify(old, new, threshold)
    for bucket in ("slower", "faster"):
        for name, o, n, d in buckets[bucket]:
            print(f"{bucket.upper():7s} {name:32s} {o:8.3f} -> {n:8.3f}  ({d:+.3f})")
            layers = layer_deltas(old, new, name)
            if layers:
                print("        " + "  ".join(f"{k} {v:+g}" for k, v in layers.items()))
    n_noise = len(buckets["within_noise"])
    for bucket in ("added", "removed"):
        rows = buckets[bucket]
        if len(rows) > 10:
            # diffing a compact (slowest-12) artifact against a full
            # map floods this bucket — summarize instead of listing
            print(f"{bucket.upper():7s} {len(rows)} queries (one artifact is a compact map)")
        else:
            for name, o, n, _ in rows:
                print(f"{bucket.upper():7s} {name}")
    tot_o = sum(r[1] for b in ("slower", "faster", "within_noise") for r in buckets[b])
    tot_n = sum(r[2] for b in ("slower", "faster", "within_noise") for r in buckets[b])
    print(
        f"common totals {tot_o:.3f} -> {tot_n:.3f} s | "
        f"{len(buckets['slower'])} slower, {len(buckets['faster'])} faster, "
        f"{n_noise} within-noise "
        f"(old trusted={old.get('minima_trusted')}, "
        f"new trusted={new.get('minima_trusted')})"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
