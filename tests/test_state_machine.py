"""FSM operator tests — port of the reference's behavioral spec
(test/test_state_transitions.py, see SURVEY.md §5): the only
executable specification of the reference's core semantics, kept
case-for-case, plus an executed native-vs-UDF equivalence check the
reference never had.
"""

from __future__ import annotations

import pytest

from advisorydatapipeline_spark.operators.state_machine import (
    TERMINAL_STATES,
    TRANSITIONS,
    VALID_STATES,
    apply_transition,
    full_transition,
    is_valid_transition,
    transition_explanation,
    with_transition,
    with_transition_udf,
)


class TestTransitionTable:
    def test_valid_states_domain(self):
        assert VALID_STATES == (
            "unknown",
            "pending_upstream",
            "fixed",
            "not_applicable",
            "will_not_fix",
        )

    def test_transition_table_completeness(self):
        assert set(TRANSITIONS) == set(VALID_STATES)
        assert TRANSITIONS["unknown"] == {"pending_upstream", "fixed"}
        assert TRANSITIONS["pending_upstream"] == {
            "fixed",
            "not_applicable",
            "will_not_fix",
        }

    @pytest.mark.parametrize("state", sorted(TERMINAL_STATES))
    def test_terminal_states_sticky(self, state):
        for target in VALID_STATES:
            expected = target == state
            assert is_valid_transition(state, target) is expected
            assert apply_transition(state, target) == state

    @pytest.mark.parametrize("state", VALID_STATES)
    def test_same_state_always_valid(self, state):
        assert is_valid_transition(state, state)
        assert apply_transition(state, state) == state

    @pytest.mark.parametrize(
        "frm,to",
        [
            ("unknown", "not_applicable"),
            ("unknown", "will_not_fix"),
            ("fixed", "pending_upstream"),
            ("not_applicable", "pending_upstream"),
            ("will_not_fix", "fixed"),
        ],
    )
    def test_invalid_transitions_keep_state(self, frm, to):
        assert not is_valid_transition(frm, to)
        assert apply_transition(frm, to) == frm


class TestNormalization:
    @pytest.mark.parametrize("raw", [None, "", "   "])
    def test_null_empty_from_is_unknown(self, raw):
        assert apply_transition(raw, "pending_upstream") == "pending_upstream"
        assert is_valid_transition(raw, "pending_upstream")

    def test_null_to_is_invalid(self):
        assert not is_valid_transition("pending_upstream", None)
        assert apply_transition("pending_upstream", None) == "pending_upstream"

    @pytest.mark.parametrize(
        "raw", ["UNKNOWN", "  unknown  ", "Unknown", "unKnown"]
    )
    def test_case_whitespace_normalized(self, raw):
        assert is_valid_transition(raw, "fixed")
        assert apply_transition(raw, "fixed") == "fixed"

    def test_unrecognized_state_invalid(self):
        assert not is_valid_transition("bogus", "fixed")
        assert not is_valid_transition("pending_upstream", "bogus")
        assert apply_transition("pending_upstream", "bogus") == "pending_upstream"


class TestExplanations:
    def test_known_transitions_have_texts(self):
        text = transition_explanation("pending_upstream", "fixed")
        assert text == "Fix released upstream."

    def test_fallback_template(self):
        assert (
            transition_explanation("fixed", "fixed")
            == "State changed from fixed to fixed"
        )

    def test_full_transition_struct(self):
        ok, old, new, reason = full_transition("unknown", "fixed")
        assert ok and old == "unknown" and new == "fixed"
        assert reason == "CVE identified and already fixed upstream."


class TestNativeUdfEquivalence:
    def test_native_equals_udf_on_edge_matrix(self, spark):
        rows = []
        edge_values = [
            None, "", "  ", "unknown", "UNKNOWN", " pending_upstream ",
            "fixed", "not_applicable", "will_not_fix", "bogus", "Fixed",
        ]
        for f in edge_values:
            for t in edge_values:
                rows.append((f, t))
        df = spark.createDataFrame(rows, "from_state string, to_state string")
        native = with_transition(df, "from_state", "to_state")
        via_udf = with_transition_udf(df, "from_state", "to_state")
        cols = ["from_state", "to_state", "transition_valid", "new_state",
                "transition_reason"]
        n = {tuple(r) for r in native.select(cols).collect()}
        u = {tuple(r) for r in via_udf.select(cols).collect()}
        assert n == u

    def test_udfs_are_plain_batched_python_udfs(self, spark):
        """The UDF builders pin ``useArrow=False``: no eval-type
        inference (and its warning), and every UDF runs as a plain
        pickled batch UDF (evalType 100, SQL_BATCHED_UDF)."""
        import warnings

        from pyspark.util import PythonEvalType

        from advisorydatapipeline_spark.operators.state_machine import (
            transition_udf,
        )

        df = spark.createDataFrame(
            [("unknown", "fixed")], "from_state string, to_state string"
        )
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            udf = transition_udf()
            out = with_transition_udf(df, "from_state", "to_state")
        assert not [
            w for w in caught if "Cannot infer the eval type" in str(w.message)
        ]
        assert udf.evalType == PythonEvalType.SQL_BATCHED_UDF == 100
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" in plan and "ArrowEvalPython" not in plan
