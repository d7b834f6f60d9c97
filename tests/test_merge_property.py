"""Property-based MERGE tests (hypothesis): random target/source tables
and clause combinations, compared against a pure-Python relational model
of Delta MERGE semantics (first matching clause wins; unmatched target
rows pass through; not-matched-insert appends source-only rows).

Guards the hard part of SURVEY.md §7.3 ("MERGE correctness under
multiple clauses and duplicate-match semantics") with randomized
coverage the example-based tests can't reach.
"""

from __future__ import annotations

import uuid

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from delta_lake_spark import DeltaTable, read_delta, write_delta

# unique ids per side; small domains force heavy match overlap
_target_rows = st.dictionaries(
    st.integers(0, 12), st.integers(0, 99), min_size=1, max_size=10
)
_source_rows = st.dictionaries(
    st.integers(0, 12), st.integers(0, 99), min_size=0, max_size=10
)
_matched_plan = st.sampled_from(
    ["update", "delete", "cond_update_then_delete", "none"]
)
_insert_plan = st.booleans()
# join conditions that all mean "same id": the equi join, and non-equi
# forms (range, RLIKE) that Spark plans as nested-loop joins, full outer
# join included
_EQ = "t.id = s.id"
_RANGE = "t.id >= s.id AND t.id < s.id + 1"
_RLIKE = "CAST(t.id AS STRING) RLIKE CONCAT('^', CAST(s.id AS STRING), '$')"
_condition = st.sampled_from([_EQ, _RANGE, _RLIKE])


def _model(
    target: dict[int, int],
    source: dict[int, int],
    matched: str,
    insert: bool,
) -> dict[int, int]:
    """Pure-Python expectation of the post-MERGE table."""
    out: dict[int, int] = {}
    for tid, tval in target.items():
        if tid in source:
            sval = source[tid]
            if matched == "update":
                out[tid] = sval
            elif matched == "delete":
                pass  # dropped
            elif matched == "cond_update_then_delete":
                # WHEN MATCHED AND s.val > 50 THEN UPDATE / WHEN MATCHED THEN DELETE
                if sval > 50:
                    out[tid] = sval
                # else dropped
            else:  # no matched clause: row passes through
                out[tid] = tval
        else:
            out[tid] = tval
    if insert:
        for sid, sval in source.items():
            if sid not in target:
                out[sid] = sval
    return out


@pytest.fixture(scope="module")
def scratch_root(tmp_path_factory):
    return tmp_path_factory.mktemp("merge_prop")


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    target=_target_rows,
    source=_source_rows,
    matched=_matched_plan,
    insert=_insert_plan,
    cond=_condition,
)
@example(
    target={1: 5, 2: 60, 3: 7}, source={2: 70, 3: 10, 9: 1},
    matched="cond_update_then_delete", insert=True, cond=_RANGE,
)
@example(
    target={1: 5, 2: 60}, source={2: 70, 4: 80},
    matched="update", insert=True, cond=_RLIKE,
)
def test_merge_matches_relational_model(
    spark, scratch_root, target, source, matched, insert, cond
):
    if matched == "none" and not insert:
        return  # empty clause set is rejected by construction elsewhere

    path = str(scratch_root / uuid.uuid4().hex)
    write_delta(
        spark.createDataFrame(
            [(k, v) for k, v in target.items()], "id long, val long"
        ),
        path,
    )
    source_df = spark.createDataFrame(
        [(k, v) for k, v in source.items()], "id long, val long"
    ) if source else spark.createDataFrame([], "id long, val long")

    dt = DeltaTable.forPath(spark, path)
    m = dt.alias("t").merge(source_df, cond, source_alias="s")
    if matched == "update":
        m = m.whenMatchedUpdate(set={"val": "s.val"})
    elif matched == "delete":
        m = m.whenMatchedDelete()
    elif matched == "cond_update_then_delete":
        m = m.whenMatchedUpdate(set={"val": "s.val"}, condition="s.val > 50")
        m = m.whenMatchedDelete()
    if insert:
        m = m.whenNotMatchedInsert(values={"id": "s.id", "val": "s.val"})
    m.execute()

    got = {r.id: r.val for r in read_delta(spark, path).collect()}
    assert got == _model(target, source, matched, insert)


_rw_target = st.dictionaries(
    st.integers(0, 12), st.integers(0, 99), min_size=1, max_size=10
)
_rw_new = st.dictionaries(
    st.integers(0, 12), st.integers(0, 99), min_size=0, max_size=8
)
_rw_cut = st.integers(0, 12)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(target=_rw_target, new=_rw_new, cut=_rw_cut)
def test_replace_where_equals_relational_model(spark, tmp_path, target, new, cut):
    """replace_where(df, 'id < cut') must equal the relational model:
    rows with id >= cut survive untouched; matching rows are exactly the
    (predicate-satisfying subset of) new data."""
    pred = f"id < {cut}"
    new_in_pred = {k: v for k, v in new.items() if k < cut}
    expected = {**{k: v for k, v in target.items() if k >= cut}, **new_in_pred}

    path = str(tmp_path / f"rw_{uuid.uuid4().hex[:8]}")
    write_delta(
        spark.createDataFrame(sorted(target.items()), "id long, v long"), path
    )
    dt = DeltaTable.forPath(spark, path)
    new_df = spark.createDataFrame(
        sorted(new_in_pred.items()) or [], "id long, v long"
    )
    dt.replace_where(new_df, pred)
    got = {r.id: r.v for r in read_delta(spark, path).collect()}
    assert got == expected


# --------------------------------------------------------------------------
# Multi-match + by-source property space: source rows with DUPLICATE keys
# (at-least-once feeds) against delete-only / by-source-only clause sets —
# the regime where a rewrite that re-emits matched rows per source match
# would silently duplicate target rows.
# --------------------------------------------------------------------------

_mm_target = st.dictionaries(
    st.integers(0, 8), st.integers(0, 99), min_size=1, max_size=8
)
# source as a LIST of (id, val): duplicate ids allowed and likely
_mm_source = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 99)), min_size=0, max_size=12
)
_mm_matched = st.sampled_from(["none", "delete_all", "cond_delete"])
_mm_by_source = st.sampled_from(
    ["none", "update", "delete_lt", "delete_then_update"]
)


def _mm_model(
    target: dict[int, int],
    source: list[tuple[int, int]],
    matched: str,
    by_source: str,
) -> dict[int, int]:
    src_ids = {sid for sid, _ in source}
    out: dict[int, int] = {}
    for tid, tval in target.items():
        if tid in src_ids:
            svals = [sv for sid, sv in source if sid == tid]
            if matched == "delete_all":
                continue
            if matched == "cond_delete" and any(sv > 50 for sv in svals):
                continue  # ANY matching source row firing the delete drops it
            out[tid] = tval  # kept exactly once regardless of match count
        else:
            if by_source == "update":
                out[tid] = 999
            elif by_source == "delete_lt":
                if tval >= 30:
                    out[tid] = tval
            elif by_source == "delete_then_update":
                if tval >= 30:
                    out[tid] = 999  # first-true: delete wins below 30
            else:
                out[tid] = tval
    return out


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    target=_mm_target,
    source=_mm_source,
    matched=_mm_matched,
    by_source=_mm_by_source,
)
def test_merge_multimatch_by_source_matches_model(
    spark, scratch_root, target, source, matched, by_source
):
    if matched == "none" and by_source == "none":
        return

    path = str(scratch_root / uuid.uuid4().hex)
    write_delta(
        spark.createDataFrame(
            [(k, v) for k, v in target.items()], "id long, val long"
        ),
        path,
    )
    source_df = (
        spark.createDataFrame(source, "id long, val long")
        if source
        else spark.createDataFrame([], "id long, val long")
    )

    dt = DeltaTable.forPath(spark, path)
    m = dt.alias("t").merge(source_df, "t.id = s.id", source_alias="s")
    if matched == "delete_all":
        m = m.whenMatchedDelete()
    elif matched == "cond_delete":
        m = m.whenMatchedDelete(condition="s.val > 50")
    if by_source == "update":
        m = m.whenNotMatchedBySourceUpdate(set={"val": "999"})
    elif by_source == "delete_lt":
        m = m.whenNotMatchedBySourceDelete(condition="t.val < 30")
    elif by_source == "delete_then_update":
        m = m.whenNotMatchedBySourceDelete(condition="t.val < 30")
        m = m.whenNotMatchedBySourceUpdate(set={"val": "999"})
    m.execute()

    rows = read_delta(spark, path).collect()
    got = {r.id: r.val for r in rows}
    assert len(rows) == len(got), "duplicate target rows after MERGE"
    assert got == _mm_model(target, source, matched, by_source)
