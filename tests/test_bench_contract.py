"""bench.py's contract with its callers, checked from its source.

``perfbench/workloads.py::bench_queries`` reads ``BENCH_QUERIES`` from
bench.py's source as a top-level literal, without importing it, and the
benchmark is configured only through the three environment variables
named below.
"""

from __future__ import annotations

import ast
import os

import __spark_entry__ as entrymod

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")
ALLOWED_ENV = {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}


def _tree() -> ast.Module:
    with open(BENCH) as f:
        return ast.parse(f.read())


def _bench_queries() -> list[str]:
    for node in _tree().body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", "") == "BENCH_QUERIES":
            return list(ast.literal_eval(node.value))
    raise LookupError("bench.py defines no top-level BENCH_QUERIES")


def _is_environ(node: ast.AST) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def _env_reads(tree: ast.Module) -> list[object]:
    """Keys of every environment read: ``os.environ.get(k)``,
    ``os.environ[k]``, ``os.getenv(k)``, ``k in os.environ`` and
    ``dict(os.environ, ...)``. A key that is not a string literal is
    returned as the AST node, so it can never pass the allow-list."""
    keys: list[object] = []

    def key(node: ast.AST) -> object:
        return node.value if isinstance(node, ast.Constant) else node

    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Attribute) and (
                (f.attr == "get" and _is_environ(f.value)) or f.attr == "getenv"
            ):
                keys.append(key(node.args[0]) if node.args else node)
            elif any(_is_environ(a) for a in node.args):
                # a copy of the whole environment hands every key on
                keys.append(node)
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            keys.append(key(node.slice))
        elif isinstance(node, ast.Compare) and any(_is_environ(c) for c in node.comparators):
            keys.append(key(node.left))
    return keys


def test_bench_queries_is_a_literal_of_known_unique_names():
    names = _bench_queries()
    assert names, "BENCH_QUERIES is empty"
    assert len(names) == len(set(names)), "BENCH_QUERIES has duplicates"
    unknown = set(names) - set(entrymod.queries())
    assert not unknown, f"BENCH_QUERIES names no queries() entry: {sorted(unknown)}"


def test_bench_reads_only_the_contract_env():
    reads = _env_reads(_tree())
    assert reads, "no environment read found; the AST walk is out of date"
    extra = [ast.dump(k) if isinstance(k, ast.AST) else k for k in reads if k not in ALLOWED_ENV]
    assert not extra, f"bench.py reads environment beyond {sorted(ALLOWED_ENV)}: {extra}"


def test_env_walk_sees_every_read_form():
    src = (
        "import os\n"
        "a = os.environ.get('A')\n"
        "b = os.environ['B']\n"
        "c = os.getenv('C')\n"
        "d = 'D' in os.environ\n"
        "e = dict(os.environ, X='1')\n"
        "f = os.environ.get(name)\n"
    )
    reads = _env_reads(ast.parse(src))
    assert [k for k in reads if isinstance(k, str)] == ["A", "B", "C", "D"]
    assert sum(isinstance(k, ast.AST) for k in reads) == 2
