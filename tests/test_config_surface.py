"""The package's configuration surface: every ``spark.neleval.*`` conf
read and every environment-variable read in ``neleval_spark/`` must be
one of the deployment settings below.  Tuning knobs that select
between code paths are not configuration — a new one has to be argued
into this allow-list, not slipped in."""

import ast
import pathlib

import neleval_spark

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MEM",
    "SPARK_GRAFT_LOCAL_DIR",
    "spark.neleval.scratchDir",
    "spark.neleval.warmed",
}

PKG = pathlib.Path(neleval_spark.__file__).parent


def _is_environ(node):
    return (isinstance(node, ast.Attribute) and node.attr == "environ"
            and isinstance(node.value, ast.Name) and node.value.id == "os")


def _key(node):
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<non-literal {ast.unparse(node)}>"


def _reads(tree):
    """(name, lineno) of each conf/env read in one module."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func,
                                                     ast.Attribute):
            f = node.func
            conf_get = (f.attr == "get" and isinstance(f.value, ast.Attribute)
                        and f.value.attr == "conf")
            if conf_get and node.args:
                k = _key(node.args[0])
                if not k.startswith("spark.") or k.startswith(
                        "spark.neleval."):
                    yield k, node.lineno
            elif f.attr in ("get", "pop", "setdefault") and _is_environ(
                    f.value):
                yield _key(node.args[0]), node.lineno
            elif (f.attr == "getenv" and isinstance(f.value, ast.Name)
                  and f.value.id == "os"):
                yield _key(node.args[0]), node.lineno
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            yield _key(node.slice), node.lineno


def _surface():
    found = {}
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for k, line in _reads(tree):
            found.setdefault(k, []).append(
                f"{path.relative_to(PKG.parent)}:{line}")
    return found


def test_config_surface_is_the_deployment_allow_list():
    found = _surface()
    extra = {k: v for k, v in found.items() if k not in ALLOWED}
    assert not extra, f"conf/env reads outside the allow-list: {extra}"
    assert set(found) == ALLOWED, \
        f"allow-list entries no longer read: {ALLOWED - set(found)}"


def test_scanner_sees_each_read_shape():
    src = (
        "import os\n"
        "a = os.environ.get('A')\n"
        "b = os.environ['B']\n"
        "c = os.getenv('C')\n"
        "d = spark.conf.get('spark.neleval.d', None)\n"
        "e = df.sparkSession.conf.get('spark.sql.session.timeZone')\n"
        "f = os.environ.get(name)\n"
    )
    got = {k for k, _ in _reads(ast.parse(src))}
    assert got == {"A", "B", "C", "spark.neleval.d",
                   "<non-literal name>"}
