"""The streaming layer's shared machinery has one home each: the bucket
merge sinks run one exactly-once skeleton (streaming/upsert.py
``bucket_merge_sink``), every stream helper runs its query through one
lifecycle (streaming/progress.py ``run_to_completion``), and the SCD2
batch build, merge and repair share one interval window
(operators/cdc.py ``scd2_window``)."""

from __future__ import annotations

import ast
import glob
import os

import datafusion_delta_sharing_spark as pkg


def _uses(*patterns: str) -> tuple[list[tuple[str, str, str]],
                                   set[tuple[str, str, str]]]:
    """Every call in the package files matching ``patterns`` as ``(file,
    qualified enclosing def, last segment of the callee)``, once per call
    site, and every string constant as ``(file, qualified enclosing def,
    value)``."""
    root = os.path.dirname(pkg.__file__)
    calls: list[tuple[str, str, str]] = []
    strings: set[tuple[str, str, str]] = set()

    def visit(node, name: str, where: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                visit(child, name, f"{where}.{child.name}".lstrip("."))
                continue
            if isinstance(child, ast.Call):
                callee = ast.unparse(child.func).rsplit(".", 1)[-1]
                calls.append((name, where, callee))
            elif (isinstance(child, ast.Constant)
                  and isinstance(child.value, str)):
                strings.add((name, where, child.value))
            visit(child, name, where)

    for pattern in patterns:
        for path in sorted(glob.glob(os.path.join(root, pattern))):
            with open(path) as fh:
                visit(ast.parse(fh.read()), os.path.basename(path), "")
    return calls, strings


def test_one_merge_skeleton_and_one_stream_lifecycle():
    calls, strings = _uses("streaming/*.py", "harness/*.py")

    def callers(callee: str) -> list[tuple[str, str]]:
        return sorted({(f, w) for f, w, c in calls if c == callee})

    # one dynamic bucket overwrite, used by the merge, compaction and repair
    assert sorted({(f, w) for f, w, v in strings
                   if v == "partitionOverwriteMode"}) == [
        ("upsert.py", "overwrite_buckets")]
    assert callers("overwrite_buckets") == [
        ("scd2.py", "repair_entities"),
        ("upsert.py", "bucket_merge_sink._merge"),
        ("upsert.py", "compact_stamps")]
    # one replay guard per sink, built by the one skeleton, which calls
    # the stamp helpers through the upsert module (tests patch them there)
    assert callers("ReplayGuard") == [("upsert.py", "bucket_merge_sink")]
    assert callers("new_stamp_rows") == [
        ("upsert.py", "bucket_merge_sink._merge")]
    assert callers("bucket_merge_sink") == [
        ("scd2.py", "scd2_upsert_sink"),
        ("upsert.py", "upsert_totals_sink")]
    # one start -> drain -> note -> stop lifecycle (tws.py records nothing)
    assert callers("note") == [("progress.py", "run_to_completion")]
    assert callers("processAllAvailable") == [
        ("progress.py", "run_to_completion"),
        ("tws.py", "tws_user_totals")]
    assert callers("run_to_completion") == [
        ("connector.py", "q_connector_cdf_scd2"),
        ("minhash_dedup.py", "stream_minhash_dedup_flags"),
        ("scd2.py", "stream_scd2_upsert"),
        ("upsert.py", "stream_upsert_totals"),
        ("windows.py", "materialize_stream")]


def test_one_scd2_interval_recipe():
    """One definition of an SCD2 interval: ``lead`` is called once across
    streaming/scd2.py and operators/cdc.py, inside the shared window,
    and the streaming merge re-windows its buckets with that window
    instead of joining new versions onto stored ones."""
    calls, _ = _uses("streaming/scd2.py", "operators/cdc.py")
    assert [(f, w) for f, w, c in calls if c == "lead"] == [
        ("cdc.py", "scd2_window")]
    assert sorted({(f, w) for f, w, c in calls if c == "scd2_window"}) == [
        ("cdc.py", "scd2_intervals"),
        ("scd2.py", "_interval_rows"),
        ("scd2.py", "repair_entities")]
    assert not [c for f, w, c in calls
                if (f, w) == ("scd2.py", "_interval_rows") and c == "join"]
