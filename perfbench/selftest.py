#!/usr/bin/env python3
"""Self-test of the benchmark's output checks, without Spark:

    python3 perfbench/selftest.py

A deliberately corrupted output must be counted as a failure: a changed
query row, a written GDX file with one value, EPS flag or key altered,
and a wrong aggregate fingerprint. Exits non-zero on the first check
that lets a corruption through.
"""

from __future__ import annotations

import copy
import math
import os
import sys
import tempfile
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.run import Runner  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    GdxIo, Workload, canonical, expected_fingerprint, file_matches)


def expect(cond: bool, what: str) -> None:
    if not cond:
        sys.exit(f"selftest FAILED: {what}")
    print(f"ok: {what}")


class _Fixed(Workload):
    """A workload whose expected output is a fixed canonical result."""

    name = "selftest"

    def __init__(self, expected):
        self._expected = expected

    def expected(self):
        return self._expected


def main() -> None:
    good = canonical(["k", "v"], [(1, 0.5), (2, float("nan"))])
    bad_row = canonical(["k", "v"], [(1, 0.5), (2, 0.25)])
    expect(good != bad_row, "a changed row changes the canonical result")
    expect(canonical(["v", "k"], [(float("nan"), 2), (0.5, 1)]) == good,
           "row and column order do not")

    runner = Runner(_Fixed({"q": good}), SimpleNamespace(trace=0, smoke=True), "")
    runner.results = [("q", good), ("q", bad_row), ("q", good)]
    expect(runner.check_outputs() == 1, "the harness counts exactly the corrupted output")

    with tempfile.TemporaryDirectory() as d:
        model = gen.write_gdx_model(d, 3, GdxIo.SMOKE_N_P, GdxIo.CHUNK)
        syms = {n: model.symbols[n] for n in ("i", "x", "e", "sv")}
        path = os.path.join(d, "written.gdx")
        gen.write_gdx_file(path, syms.values(), GdxIo.CHUNK)
        expect(file_matches(path, syms), "an intact written file matches its records")

        for what, corrupt in [
            ("a changed level", lambda s: s["x"].values.__setitem__(
                0, (s["x"].values[0][0] + 1.0,) + s["x"].values[0][1:])),
            ("a dropped EPS flag", lambda s: s["sv"].values.__setitem__(0, (0.0,))),
            ("NA written as +INF", lambda s: s["sv"].values.__setitem__(1, (math.inf,))),
            ("a changed key", lambda s: s["e"].keys.__setitem__(0, ("zz",))),
            ("changed set text", lambda s: s["i"].text.__setitem__(0, "other")),
        ]:
            bad = copy.deepcopy(syms)
            corrupt(bad)
            gen.write_gdx_file(path, bad.values(), GdxIo.CHUNK)
            expect(not file_matches(path, syms), f"a written file with {what} fails")

        p = model.symbols["p"]
        fp = expected_fingerprint(p)
        bad_p = copy.deepcopy(p)
        bad_p.values[5] = (bad_p.values[5][0] + 0.001,) if isinstance(
            bad_p.values[5][0], float) and math.isfinite(bad_p.values[5][0]) else (1.0,)
        expect(expected_fingerprint(bad_p) != fp, "a changed value changes the fingerprint")
        wl = GdxIo()
        wl.model = model
        expect(not wl.check("full_read", {**fp, "n": fp["n"] - 1}, {"full_read": fp}),
               "a read missing one record fails its check")


if __name__ == "__main__":
    main()
