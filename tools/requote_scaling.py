#!/usr/bin/env python3
"""Requote SCALING.md's machine-checked stress spans from BENCH.json.

Every backtick span of the form `name=ratio` / `name@100x=ratio` in
SCALING.md is rewritten to the ratio in the working-tree BENCH.json
(stress / stress_100 sections), so prose and record cannot drift when a
new record lands (ScalingQuoteSpec gates the result). Spans whose task
is absent from the record are left untouched and reported.

The `quoted-cpus=N` declaration is rewritten to the record's `cpus`, so
the prose always names the core count its numbers came from:
ScalingQuoteSpec enforces only records whose `cpus` equals the
declaration, and a stale declaration would let a requote from another
core count pass unchecked. A record without an integer `cpus` leaves
the declaration as it is, with a warning.
"""
import json
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def main():
    bench = json.loads((ROOT / "BENCH.json").read_text())
    ratios = {}
    for tier, suffix in (("stress", ""), ("stress_100", "@100x")):
        for name, q in bench.get(tier, {}).get("queries", {}).items():
            ratios[name + suffix] = q["ratio"]
    text = (ROOT / "SCALING.md").read_text()
    changed = []
    missing = []

    def fixed_point(v):
        # NEVER exponent notation: a 1e+06 span would no longer match the
        # backtick regex below and would silently never be requoted again.
        s = f"{v:.6f}".rstrip("0").rstrip(".")
        return s if s else "0"

    def sub(m):
        key, old, suffix = m.group(1), m.group(2), m.group(3)
        if key not in ratios:
            missing.append(key)
            return m.group(0)
        new = fixed_point(ratios[key])
        if new != old:
            changed.append((key, old, new))
        return f"`{key}={new}{suffix}`"  # preserve a trailing 'x' verbatim

    out = re.sub(r"`([a-z_0-9]+(?:@100x)?)=([0-9.]+)(x?)`", sub, text)

    cpus = bench.get("cpus")
    if type(cpus) is int:  # not bool, which is an int subclass
        def sub_cpus(m):
            new = str(cpus)
            if new != m.group(1):
                changed.append(("quoted-cpus", m.group(1), new))
            return f"`quoted-cpus={new}`"

        out = re.sub(r"`quoted-cpus=([0-9]+)`", sub_cpus, out)
    else:
        print(f"WARNING: BENCH.json cpus is {cpus!r}, not a core count; "
              "quoted-cpus left as it is", file=sys.stderr)
    (ROOT / "SCALING.md").write_text(out)
    for key, old, new in changed:
        print(f"requoted {key}: {old} -> {new}")
    for key in missing:
        print(f"WARNING: {key} not in BENCH.json record", file=sys.stderr)
    print(f"{len(changed)} spans requoted")


if __name__ == "__main__":
    main()
