"""The scratch root and the pay-once layout rule (``sources/layouts.py``).

- ``pay_once`` rebuilds a layout unless every output's marker names
  the wanted fixture, and marks outputs only after a build succeeds.
- The engine writes under the checkout it is imported from: a copy of
  the package builds its layouts under the copy, not under this
  checkout.
- No program file hard-codes its checkout's absolute path, and only
  ``sources/layouts.py`` names the scratch directory.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import subprocess
import sys

import pytest

from etl_pyspark_spark.sources import layouts
from etl_pyspark_spark.sources.layouts import pay_once

ROOT = pathlib.Path(__file__).resolve().parent.parent


class _Build:
    """A build that writes one file into each output, counting calls."""

    def __init__(self, outputs, fail=False):
        self.outputs, self.fail, self.calls = outputs, fail, 0

    def __call__(self):
        self.calls += 1
        for out in self.outputs:
            out.mkdir(parents=True, exist_ok=True)
            (out / "part-0").write_text("rows")
        if self.fail:
            raise RuntimeError("build failed")


def _outputs(tmp_path):
    return [tmp_path / "v1", tmp_path / "v2"]


def test_pay_once_skips_build_when_markers_current(tmp_path):
    outs = _outputs(tmp_path)
    build = _Build(outs)
    pay_once([str(o) for o in outs], "fixture-a", build)
    assert build.calls == 1
    pay_once([str(o) for o in outs], "fixture-a", build)
    assert build.calls == 1


def test_pay_once_rebuilds_and_remarks_on_changed_want(tmp_path):
    outs = _outputs(tmp_path)
    build = _Build(outs)
    pay_once([str(o) for o in outs], "fixture-a", build)
    pay_once([str(o) for o in outs], "fixture-b", build)
    assert build.calls == 2
    # the markers now name fixture-b: no third build for it ...
    pay_once([str(o) for o in outs], "fixture-b", build)
    assert build.calls == 2
    # ... and fixture-a is stale again
    pay_once([str(o) for o in outs], "fixture-a", build)
    assert build.calls == 3


def test_pay_once_rebuilds_when_one_output_lost_its_marker(tmp_path):
    """The two-spec orders rule: a deleted or partial second layout
    whose sibling's marker survived must rebuild, not be read."""
    outs = _outputs(tmp_path)
    build = _Build(outs)
    pay_once([str(o) for o in outs], "fixture-a", build)
    shutil.rmtree(outs[1])
    outs[1].mkdir()
    (outs[1] / "part-0").write_text("partial")
    pay_once([str(o) for o in outs], "fixture-a", build)
    assert build.calls == 2


def test_pay_once_marks_nothing_when_build_fails(tmp_path):
    outs = _outputs(tmp_path)
    with pytest.raises(RuntimeError):
        pay_once([str(o) for o in outs], "fixture-a", _Build(outs, fail=True))
    build = _Build(outs)
    pay_once([str(o) for o in outs], "fixture-a", build)
    assert build.calls == 1


def test_engine_builds_layouts_under_the_checkout_it_runs_from(tmp_path, sf_dir):
    """A copy of the package roots its scratch under the copy: the
    deflate sizes layout (pure pyarrow, no JVM) lands at the same place
    relative to the copy as it does relative to this checkout."""
    shutil.copytree(
        ROOT / "etl_pyspark_spark",
        tmp_path / "etl_pyspark_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "from etl_pyspark_spark.sources import layouts; "
        "print(layouts.__file__); print(layouts.ensure_deflate_sizes(sys.argv[2]))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path), sf_dir],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    module_file, built = out.stdout.strip().splitlines()[-2:]
    assert module_file.startswith(str(tmp_path)), module_file
    rel = os.path.relpath(layouts.deflate_sizes_dir(sf_dir), ROOT)
    assert built == str(tmp_path / rel)
    assert (tmp_path / rel / "sizes.parquet").is_file()


def _program_files():
    for d in ("etl_pyspark_spark", "tests", "scripts"):
        yield from sorted((ROOT / d).rglob("*.py"))
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"


def test_no_hard_coded_checkout_or_scratch_paths():
    """Paths derive from the package location: no program file names
    its checkout's absolute path, and only ``sources/layouts.py`` names
    the scratch directory (everything else uses ``layouts._SCRATCH``).
    Both forbidden strings are built here at run time, so this file
    does not match itself."""
    checkout = str(ROOT)
    name = os.path.basename(layouts._SCRATCH)
    quoted = [q + name + q for q in ("'", '"')]
    owner = pathlib.Path(layouts.__file__).resolve()
    bad = []
    for path in _program_files():
        src = path.read_text()
        if checkout in src:
            bad.append(f"{path.relative_to(ROOT)}: absolute checkout path")
        if path.resolve() != owner and any(q in src for q in quoted):
            bad.append(f"{path.relative_to(ROOT)}: scratch directory literal")
    assert not bad, bad
