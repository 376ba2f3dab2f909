"""The scratch-artifact protocol (dgraph_etl_spark/staging.py): failure
cleanup through an index builder, the per-process roots' removal at
exit, and a structure guard that keeps the protocol in one module."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import textwrap

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "dgraph_etl_spark"


def test_build_ivf_index_failed_write_leaves_no_tmp(spark, tmp_path):
    """An index build whose write raises must not strand its tmp sibling
    next to ``path``, and a later build with good input must publish."""
    from pyspark.sql import functions as F

    from dgraph_etl_spark.functions.similarity import build_ivf_index
    from dgraph_etl_spark.staging import is_published

    good = spark.createDataFrame(
        [(i, f"l{i % 2}", [float(i), 1.0]) for i in range(6)],
        "vec_id long, label string, embedding array<float>",
    )

    @F.udf("long")
    def boom(v):
        raise RuntimeError("injected index write failure")

    path = str(tmp_path / "ivf")
    with pytest.raises(Exception, match="injected index write failure"):
        build_ivf_index(good.withColumn("vec_id", boom("vec_id")), path)
    leftovers = [p for p in os.listdir(tmp_path) if ".tmp." in p]
    assert leftovers == [], leftovers
    assert not os.path.exists(path)

    build_ivf_index(good, path)
    assert is_published(path)
    assert spark.read.parquet(path).count() == 6


def test_bucketed_root_removed_at_exit(tmp_path):
    """A process's per-process scratch roots must be gone once the
    process exits: the bucketed-table root (files only its own
    in-memory catalog can name) and each streaming query's state root
    (keyed by pid, so no later process ever reuses it)."""
    code = textwrap.dedent(
        """
        import os
        import sys

        sys.path.insert(0, sys.argv[1])
        from dgraph_etl_spark.session import get_spark
        from dgraph_etl_spark.sources.bucketed import bucketed_table
        from dgraph_etl_spark.streaming.core import scratch_state_root

        spark = get_spark(cpus=1, shuffle_partitions=1)
        bucketed_table(spark, spark.range(10), "bkt_exit_probe", "id", 2)
        root = os.path.join(
            os.environ["TMPDIR"],
            f"dgraph_etl_bucketed_{os.getpid()}_{id(spark)}",
        )
        assert os.listdir(root) == ["bkt_exit_probe"], os.listdir(root)
        state = scratch_state_root("exit_probe")
        open(os.path.join(state, "epoch0"), "w").close()
        print(state)
        print(root)
        """
    )
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", code, str(PKG.parent)],
        cwd=tmp_path,
        env={**os.environ, "TMPDIR": str(scratch)},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    for root in out.stdout.strip().splitlines()[-2:]:
        assert root.startswith(str(scratch))
        assert not os.path.exists(root), os.listdir(root)


# Modules and functions that keep their own tmp/rename or mtime key,
# because their lifecycle is not a derived copy of a fixture table.
TMP_RENAME_ALLOWED = {
    # per-attempt mutation files: every task attempt writes its own
    # tmp file and the last commit replaces the output WHOLE
    "sinks/live.py",
    # versioned edge store: each merge publishes a NEW version dir
    # (v00001, v00002, ...), never a keyed copy of a source
    "sinks/lakehouse.py",
}
MTIME_ALLOWED = {
    # the registration-time identity of ALL base tables, memoizing
    # register_views -- a cache key, not an on-disk artifact
    ("catalog.py", "_source_fingerprint"),
    # memo key of the CORRECTNESS_r*.json certification records,
    # which are not fixture tables
    ("registry.py", "_certified_rounds"),
}


def _scan(tree):
    """(builds a '.tmp.' name in code, renames, functions reading
    st_mtime_ns) for one module's AST. Docstrings and other bare
    string statements do not count as building a name."""
    bare = {
        id(n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    tmp_name = any(
        isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and ".tmp." in n.value
        and id(n) not in bare
        for n in ast.walk(tree)
    )
    renames = any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("rename", "replace")
        and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "os"
        for n in ast.walk(tree)
    )
    mtime_in = set()

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, fn or child.name)
            else:
                if (
                    isinstance(child, ast.Attribute)
                    and child.attr == "st_mtime_ns"
                ):
                    mtime_in.add(fn)
                visit(child, fn)

    visit(tree, None)
    return tmp_name, renames, mtime_in


def test_staging_protocol_lives_in_one_module():
    """Only staging.py may publish a tmp sibling by rename or key an
    artifact on a file's mtime: a second copy of either is how the
    hand-kept stagers drifted apart (one lock-free, one with no cleanup
    on failure)."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "staging.py":
            continue
        tmp_name, renames, mtime_in = _scan(ast.parse(path.read_text()))
        if tmp_name and renames and rel not in TMP_RENAME_ALLOWED:
            offenders.append(f"{rel}: builds a .tmp. sibling and renames it")
        for fn in sorted(mtime_in, key=str):
            if (rel, fn) not in MTIME_ALLOWED:
                offenders.append(f"{rel}:{fn}: keys on st_mtime_ns")
    assert offenders == [], (
        "use dgraph_etl_spark.staging (stage / publish / source_version): "
        + "; ".join(offenders)
    )


def test_structure_guard_sees_a_hand_built_stager():
    """The guard's scan must flag the pattern it exists to forbid."""
    src = textwrap.dedent(
        '''
        import os
        def build(path, st):
            """writes path.tmp.x then renames"""
            tmp = f"{path}.tmp.{os.getpid()}"
            os.rename(tmp, path)
            return st.st_mtime_ns
        '''
    )
    assert _scan(ast.parse(src)) == (True, True, {"build"})
    doc_only = 'def f():\n    """a .tmp. dir"""\n    os.rename(a, b)\n'
    assert _scan(ast.parse(doc_only))[0] is False
