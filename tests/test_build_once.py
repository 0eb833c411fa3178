"""The build-once discipline every persisted artifact shares
(_util.artifact_dir + _util.build_once): hit, failed build, repair of
a destination without its marker, the DEBUG line, the GDX fixtures'
content address, and a guard that keeps every artifact on the one
publish path. All Spark-free."""

from __future__ import annotations

import logging
import os
import shutil
import tempfile

import pytest

from gdxpy_spark.operators._util import build_once
from tests.conftest import SF_DIR


def _siblings(out) -> list:
    """Everything beside ``out`` that a build or repair left behind."""
    parent, name = os.path.split(out)
    return sorted(n for n in os.listdir(parent) if n.startswith(name + "."))


def _write_file(text):
    def write(build):
        os.makedirs(build)
        with open(os.path.join(build, "data.txt"), "w") as f:
            f.write(text)
    return write


def test_build_once_second_call_does_not_write(tmp_path):
    out = str(tmp_path / "art")
    assert build_once(out, _write_file("one")) == out
    assert sorted(os.listdir(out)) == ["_SUCCESS", "data.txt"]

    def boom(build):
        raise AssertionError("write called on a hit")

    assert build_once(out, boom) == out
    assert open(os.path.join(out, "data.txt")).read() == "one"
    assert _siblings(out) == []


def test_build_once_failed_write_leaves_nothing(tmp_path):
    out = str(tmp_path / "art")

    def half_then_raise(build):
        _write_file("partial")(build)
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        build_once(out, half_then_raise)
    assert not os.path.exists(out)
    assert _siblings(out) == []


def test_build_once_rebuilds_destination_without_marker(tmp_path):
    """A dir at ``out`` without _SUCCESS (a crashed build of an older
    layout, or a /tmp cleaner that aged the marker out) is never
    served: the next call rebuilds and atomic_publish's repair path
    replaces the broken dir."""
    out = str(tmp_path / "art")
    _write_file("stale")(out)
    assert build_once(out, _write_file("fresh")) == out
    assert open(os.path.join(out, "data.txt")).read() == "fresh"
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert _siblings(out) == []


def test_build_once_logs_built_then_hit(tmp_path, caplog):
    caplog.set_level(logging.DEBUG, logger="gdxpy_spark.operators._util")
    out = str(tmp_path / "art")
    build_once(out, _write_file("x"))
    build_once(out, _write_file("x"))
    msgs = [r.getMessage() for r in caplog.records
            if r.name == "gdxpy_spark.operators._util"]
    assert len(msgs) == 2
    assert msgs[0].startswith("build_once: art built in ") and msgs[0].endswith(" s")
    assert msgs[1] == "build_once: art hit"


def test_gdx_fixtures_of_same_basename_do_not_collide(tmp_path, monkeypatch):
    """Two datasets sharing a directory basename get their own fixture:
    building the second must not overwrite the first's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gdxpy_spark.sources.fixtures import build_fixture_gdx
    from gdxpy_spark.sources.gdx_codec import GdxFile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    dirs = []
    for side in ("a", "b"):
        d = tmp_path / side / "sf"
        d.mkdir(parents=True)
        for t in ("nation", "customer", "orders"):
            shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), d / f"{t}.parquet")
        region = pq.read_table(os.path.join(SF_DIR, "region.parquet"))
        names = [f"{side}_{n}" for n in region.column("r_name").to_pylist()]
        i = region.schema.get_field_index("r_name")
        pq.write_table(region.set_column(i, "r_name", pa.array(names)),
                       d / "region.parquet")
        dirs.append(str(d))

    def regions(path):
        f = GdxFile(path)
        return sorted(k[0] for k in f.read_records(f.find("region_set")).keys)

    first = build_fixture_gdx(dirs[0])
    build_fixture_gdx(dirs[1])
    got = regions(build_fixture_gdx(dirs[0]))
    assert got and all(r.startswith("a_") for r in got), got
    assert regions(first) == got


def test_every_artifact_publishes_through_build_once():
    """atomic_publish has one caller under gdxpy_spark/, build_once, and
    no two artifact_dir callers share a kind: a new artifact goes
    through the one helper under a kind of its own."""
    import ast
    import pathlib

    import gdxpy_spark

    def name_of(call):
        f = call.func
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

    class Calls(ast.NodeVisitor):
        def __init__(self):
            self.stack, self.publish, self.kinds = [], [], []

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        def visit_Call(self, node):
            if name_of(node) == "atomic_publish":
                self.publish.append(self.stack[-1] if self.stack else "<module>")
            elif name_of(node) == "artifact_dir":
                kind = node.args[0] if node.args else next(
                    k.value for k in node.keywords if k.arg == "kind")
                self.kinds.append(ast.unparse(kind))
            self.generic_visit(node)

    calls = Calls()
    root = pathlib.Path(gdxpy_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        calls.visit(ast.parse(path.read_text()))
    assert calls.publish == ["build_once"]
    assert len(calls.kinds) == len(set(calls.kinds)) >= 6, calls.kinds


def test_scratch_root_is_removed_at_exit(tmp_path):
    """Per-call scratch dirs live under one per-process root that is
    removed when the interpreter exits: a child interpreter makes two
    scratch dirs, writes a file, exits, and the root is gone."""
    import subprocess
    import sys

    child = (
        "import os\n"
        "from gdxpy_spark.operators._util import scratch_dir\n"
        "a, b = scratch_dir('csv'), scratch_dir('ckpt_x')\n"
        "assert a != b and os.path.dirname(a) == os.path.dirname(b)\n"
        "open(os.path.join(a, 'part-0'), 'w').write('x')\n"
        "print(os.path.dirname(a))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=path)
    out = subprocess.run(
        [sys.executable, "-c", child], env=env, cwd=repo,
        capture_output=True, text=True, check=True, timeout=120,
    )
    root = out.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path), root
    assert not os.path.exists(root)
