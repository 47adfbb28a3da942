"""Static guards: one plan per query. An A/B arm lives in git history,
not behind a session conf or an environment switch, so the package
reads no ``spark.sql.graft.*`` conf and no environment variable other
than the three deployment settings of ``session.py``, and no script
imports the deleted ``bench`` harness. Plus the host-fitted session
defaults those deployment settings override, and one statement of each
contact view in ``staging.py``."""

from __future__ import annotations

import ast
import os

from tests.conftest import REPO_ROOT

DEPLOYMENT_ENV = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_LOCAL_DIR"}
ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def _trees(*dirs: str):
    for root in dirs:
        for d, _, files in os.walk(os.path.join(REPO_ROOT, root)):
            for f in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(d, f)
                with open(path) as fh:
                    yield os.path.relpath(path, REPO_ROOT), ast.parse(fh.read())


def _env_reads(tree: ast.AST):
    """(lineno, key) of every environment access; key is None unless it
    is a string literal (``os.environ[k]``, ``os.environ.get(k)``,
    ``os.getenv(k)``)."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        name = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
        if name not in ENV_NAMES:
            continue
        fn, up = node, parents.get(node)
        if isinstance(up, ast.Attribute):  # os.environ.get(k)
            fn, up = up, parents.get(up)
        if isinstance(up, ast.Subscript) and up.value is fn:
            arg = up.slice
        elif isinstance(up, ast.Call) and up.func is fn and up.args:
            arg = up.args[0]
        else:
            arg = None
        yield node.lineno, arg.value if isinstance(arg, ast.Constant) else None


def test_no_graft_conf_literal():
    found = [
        f"{path}:{node.lineno}"
        for path, tree in _trees("multi_report_etl_pipeline_spark", "scripts", "tests")
        if path != os.path.relpath(__file__, REPO_ROOT)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and "spark.sql.graft." in str(node.value)
    ]
    assert not found, found


def test_env_reads_only_deployment_settings():
    bad = [
        f"{path}:{lineno} {key}"
        for path, tree in _trees("multi_report_etl_pipeline_spark")
        for lineno, key in _env_reads(tree)
        if not (path.endswith("/session.py") and key in DEPLOYMENT_ENV)
    ]
    assert not bad, bad


def test_env_scan_sees_every_access_form():
    src = (
        "import os as o\na = o.environ.get('A')\nb = o.environ['B']\n"
        "c = o.getenv('C')\nd = dict(o.environ)\ne = o.environ.get(k)\n"
    )
    got = sorted(_env_reads(ast.parse(src)))
    assert got == [(2, "A"), (3, "B"), (4, "C"), (5, None), (6, None)], got


def test_scripts_do_not_import_bench():
    bad = [
        f"{path}:{node.lineno}"
        for path, tree in _trees("scripts")
        for node in ast.walk(tree)
        for name in (
            [a.name for a in node.names] if isinstance(node, ast.Import)
            else [node.module or ""] if isinstance(node, ast.ImportFrom)
            else []
        )
        if name.split(".")[0] == "bench"
    ]
    assert not bad, bad


def test_session_defaults_fit_host(monkeypatch):
    from multi_report_etl_pipeline_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session._cpus() == len(os.sched_getaffinity(0))  # noqa: SLF001
    mem = session._driver_mem()  # noqa: SLF001
    ram_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    assert mem.endswith("m")
    assert 1024 <= int(mem[:-1]) <= min(16 << 10, ram_mb), (mem, ram_mb)

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "4g")
    assert session._cpus() == 3  # noqa: SLF001
    assert session._driver_mem() == "4g"  # noqa: SLF001


def test_contact_view_labels_stated_once():
    """Each outcome filter and outcome label of the contact views is one
    string constant in staging.py: both physical forms derive from one
    spec per view, so a second copy means the semantics forked again."""
    path = os.path.join(REPO_ROOT, "multi_report_etl_pipeline_spark", "staging.py")
    with open(path) as fh:
        tree = ast.parse(fh.read())
    consts = [n.value for n in ast.walk(tree) if isinstance(n, ast.Constant)]
    for label in ("PAYMENT_PROMISE", "RESTRUCTURE_REQUEST", "PROMISE", "RESTRUCTURE"):
        assert consts.count(label) == 1, (label, consts.count(label))
