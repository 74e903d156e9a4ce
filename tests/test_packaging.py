"""Packaging contract (round 12): the repo installs as a distribution
(`pip install -e .`, or `python setup.py develop` where the `wheel`
package is unavailable — PEP 660 editable builds require it) and the
pyproject metadata stays consistent with the actual package tree.

The full install is exercised out-of-band (clean venv, foreign cwd);
these tests pin the invariants that would silently break it."""

import os

import pytest

# stdlib only on >= 3.11; the package itself supports 3.10, so the
# metadata checks skip there rather than failing collection
tomllib = pytest.importorskip("tomllib")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "datafusion_functions_json_spark"


def _pyproject():
    with open(os.path.join(REPO, "pyproject.toml"), "rb") as f:
        return tomllib.load(f)


def test_pyproject_parses_with_required_metadata():
    meta = _pyproject()
    proj = meta["project"]
    assert proj["name"] == "datafusion-functions-json-spark"
    assert proj["version"]
    deps = " ".join(proj["dependencies"])
    for d in ("pyspark", "pyarrow", "pandas", "numpy"):
        assert d in deps, d
    # optional extras gate the import-try'd libs, never core deps
    extras = proj["optional-dependencies"]
    assert "orjson" in " ".join(extras["fast"])
    assert meta["build-system"]["build-backend"] == "setuptools.build_meta"


def test_every_package_dir_has_init_and_is_discoverable():
    # setuptools packages.find walks dirs with __init__.py; a data dir
    # or a missing __init__ drops a subpackage from the wheel silently
    found = []
    for root, dirs, files in os.walk(os.path.join(REPO, PKG)):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        rel = os.path.relpath(root, REPO)
        assert "__init__.py" in files, f"{rel} would be dropped from the wheel"
        found.append(rel.replace(os.sep, "."))
    # the subpackages the docs promise
    for sub in (PKG, f"{PKG}.operators", f"{PKG}.functions",
                f"{PKG}.sources", f"{PKG}.streaming", f"{PKG}.plans"):
        assert sub in found, sub


def test_setup_py_is_a_metadata_free_shim():
    # all metadata lives in pyproject.toml; a duplicated field in
    # setup.py would drift — the shim must stay empty
    src = open(os.path.join(REPO, "setup.py")).read()
    assert "setup()" in src
    for field in ("name=", "version=", "install_requires"):
        assert field not in src, field


def test_package_imports_without_repo_root_side_effects():
    # the installed package must not import __spark_entry__ or tests
    # (repo-root modules that don't ship in the wheel)
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, %r); "
        "import datafusion_functions_json_spark; "
        "bad = [m for m in sys.modules if m.startswith('__spark_entry__') "
        "or m.startswith('tests')]; "
        "assert not bad, bad; print('clean')" % REPO
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd="/tmp",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "clean" in out.stdout


def test_json_functions_have_no_pandas_bridge():
    # both JSON surfaces cross the JVM boundary through the one Arrow
    # adapter (functions/udfs.py); a pandas import or pandas_udf here
    # would reopen a second, lossy path (pandas widens an int member to
    # float64 when its batch holds a null)
    import ast

    for rel in ("functions/core.py", "functions/kernels.py",
                "functions/udfs.py", "functions/multi.py",
                "functions/api.py", "register.py"):
        tree = ast.parse(open(os.path.join(REPO, PKG, rel)).read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            else:
                mods = []
            assert not any(m.split(".")[0] == "pandas" for m in mods), rel
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            assert name != "pandas_udf", (rel, node.lineno)
