"""Crash-matrix laws for the generation ledgers (pipelines/genledger.py),
run over all three artifacts that keep state in that layout: the export's
segment ledger (summed by seg_key), its signature ledger (disjoint rows,
no merge) and the classifier's token-count ledger (summed by
(label, token)).

A crashed append is simulated the way it looks on disk: the generation
directory holds part files but no ``_SUCCESS`` job-commit marker. A
crashed compaction swap is simulated by parking the ledger at
``<ledger>.__old__`` with nothing in its place (replace_dir's window
between its two renames)."""

from __future__ import annotations

import ast
import os
import shutil

import pytest

from ftm_datalake_spark import fsutil
from ftm_datalake_spark.pipelines.classifier_store import TOK_LEDGER
from ftm_datalake_spark.pipelines.training_export import SEG_LEDGER, SIG_LEDGER

CASES = {
    "segledger": (
        SEG_LEDGER,
        [("k1", 2), ("k2", 1)],
        [("k1", 5), ("k3", 1)],
        [("k2", 4)],
    ),
    "sigledger": (
        SIG_LEDGER,
        [(1, "s1", True), (2, None, False)],
        [(3, "s3", True), (4, "s1", False)],
        [(5, "s5", True)],
    ),
    "tokledger": (
        TOK_LEDGER,
        [("A", "alpha", 2), ("B", "beta", 1)],
        [("A", "alpha", 3), ("B", "gamma", 1)],
        [("B", "beta", 7)],
    ),
}


@pytest.fixture(params=sorted(CASES))
def case(request, spark):
    ledger, base, delta, more = CASES[request.param]
    frame = lambda rows: spark.createDataFrame(rows, ledger.schema)  # noqa: E731
    return ledger, frame(base), frame(delta), frame(more)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _full(spark, ledger, tmp_path, *frames):
    """read() of a ledger built in one shot from the union of frames."""
    root = str(tmp_path / "full")
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    ledger.write_base(spark, root, union)
    return _rows(ledger.read(spark, root))


def _crash_append(spark, ledger, root, gen_id, df):
    assert ledger.append(spark, root, gen_id, df) is False
    gen_dir = os.path.join(ledger.path(root), f"gen={gen_id}")
    os.remove(os.path.join(gen_dir, "_SUCCESS"))
    assert not fsutil.dir_committed(spark, gen_dir)


def _gens(spark, ledger, root):
    return {r["gen"] for r in ledger.read_tagged(spark, root).collect()}


def test_uncommitted_gen_invisible_and_reported(spark, tmp_path, case):
    ledger, base, delta, _ = case
    root = str(tmp_path / "r")
    ledger.write_base(spark, root, base)
    before = _rows(ledger.read(spark, root))
    _crash_append(spark, ledger, root, "d1", delta)
    assert _rows(ledger.read(spark, root)) == before
    assert _rows(ledger.read_raw(spark, root)) == _rows(base)
    assert _gens(spark, ledger, root) == {"base"}
    assert ledger.uncommitted(spark, root) == ["d1"]
    assert ledger.read_gen(spark, root, "d1") is None


def test_compact_with_crashed_gen_then_redelivery_lands_once(
    spark, tmp_path, case
):
    ledger, base, delta, _ = case
    root = str(tmp_path / "r")
    ledger.write_base(spark, root, base)
    _crash_append(spark, ledger, root, "d1", delta)
    ledger.compact(spark, root)
    assert ledger.uncommitted(spark, root) == []
    assert ledger.append(spark, root, "d1", delta) is False
    assert _rows(ledger.read(spark, root)) == _full(
        spark, ledger, tmp_path, base, delta
    )


def test_redelivery_overwrites_crashed_gen(spark, tmp_path, case):
    ledger, base, delta, _ = case
    root = str(tmp_path / "r")
    ledger.write_base(spark, root, base)
    _crash_append(spark, ledger, root, "d1", delta)
    assert ledger.append(spark, root, "d1", delta) is False
    assert ledger.uncommitted(spark, root) == []
    assert _rows(ledger.read(spark, root)) == _full(
        spark, ledger, tmp_path, base, delta
    )
    assert _rows(ledger.read_gen(spark, root, "d1")) == _rows(delta)


def test_crashed_swap_heals_on_next_read(spark, tmp_path, case):
    ledger, base, delta, more = case
    root = str(tmp_path / "r")
    ledger.write_base(spark, root, base)
    ledger.append(spark, root, "d1", delta)
    before = _rows(ledger.read(spark, root))
    path = ledger.path(root)
    shutil.move(path, path + ".__old__")  # the crash point
    assert _rows(ledger.read(spark, root)) == before
    assert os.path.isdir(path) and not os.path.exists(path + ".__old__")
    assert ledger.compact(spark, root) == len(before)
    assert _rows(ledger.read(spark, root)) == before
    # an append is also an entry point: it heals before writing, so the
    # parked state is never shadowed by a fresh ledger directory
    shutil.move(path, path + ".__old__")
    assert ledger.append(spark, root, "d2", more) is False
    assert _rows(ledger.read(spark, root)) == _full(
        spark, ledger, tmp_path, base, delta, more
    )


def test_legacy_flat_layout_reads_as_base(spark, tmp_path, case):
    ledger, base, delta, _ = case
    root = str(tmp_path / "r")
    base.write.mode("overwrite").parquet(ledger.path(root))
    assert _rows(ledger.read(spark, root)) == _full(
        spark, ledger, tmp_path, base
    )
    assert _gens(spark, ledger, root) == {"base"}
    assert ledger.uncommitted(spark, root) == []
    ledger.append(spark, root, "d1", delta)
    assert _gens(spark, ledger, root) == {"base", "d1"}


def test_compact_leaves_read_frame_identical(spark, tmp_path, case):
    ledger, base, delta, more = case
    root = str(tmp_path / "r")
    ledger.write_base(spark, root, base)
    ledger.append(spark, root, "d1", delta)
    ledger.append(spark, root, "d2", more)
    before = ledger.read(spark, root)
    rows, dtypes = _rows(before), before.dtypes
    n = ledger.compact(spark, root)
    after = ledger.read(spark, root)
    assert n == len(rows)
    assert after.dtypes == dtypes
    assert _rows(after) == rows
    assert _gens(spark, ledger, root) == {"base"}
    names = os.listdir(ledger.path(root))
    assert [p for p in names if p.startswith("gen=")] == ["gen=base"]
    assert not os.path.exists(ledger.path(root) + ".__new__")


def test_append_of_committed_gen_is_noop(spark, tmp_path, case):
    ledger, base, delta, more = case
    root = str(tmp_path / "r")
    ledger.write_base(spark, root, base)
    assert ledger.append(spark, root, "d1", delta) is False
    before = _rows(ledger.read(spark, root))

    def snapshot():
        out = {}
        for d, _dirs, files in os.walk(ledger.path(root)):
            for f in files:
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_mtime_ns, st.st_size)
        return out

    files = snapshot()
    # a re-delivery under the same id is skipped whatever it carries
    assert ledger.append(spark, root, "d1", more) is True
    assert snapshot() == files
    assert _rows(ledger.read(spark, root)) == before


def test_empty_and_all_uncommitted_ledgers_read_typed(spark, tmp_path, case):
    ledger, _, delta, _ = case
    declared = spark.createDataFrame([], ledger.schema).dtypes
    empty = str(tmp_path / "empty")
    assert not ledger.present(spark, empty)
    crashed = str(tmp_path / "crashed")
    _crash_append(spark, ledger, crashed, "d1", delta)
    assert ledger.present(spark, crashed)
    for root in (empty, crashed):
        for df in (ledger.read_raw(spark, root), ledger.read(spark, root)):
            assert df.dtypes == declared
            assert df.count() == 0


_PIPELINES = os.path.join(
    os.path.dirname(__file__), os.pardir, "ftm_datalake_spark", "pipelines"
)


@pytest.mark.parametrize(
    "module", ["training_export.py", "classifier_store.py"]
)
def test_only_genledger_knows_the_layout(module):
    """Outside docstrings and comments, the ledger owners name neither
    the generation directory layout nor its commit probe."""
    with open(os.path.join(_PIPELINES, module)) as fh:
        tree = ast.parse(fh.read())
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.ClassDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if id(node) not in docstrings:
                assert "gen=" not in node.value
                assert ".__new__" not in node.value
        name = getattr(node, "attr", None) or getattr(node, "id", None)
        assert name not in ("committed_ledger_paths", "dir_committed")
    assert not hasattr(fsutil, "committed_ledger_paths")
