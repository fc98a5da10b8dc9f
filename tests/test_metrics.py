"""The G1/G2 evaluation kernel in ``operators/metrics.py``: confusion
counts (``confusion_sums``), derived metrics (``classification_metrics``)
and the one-pass sliced evaluation (``evaluate_classification``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from exact_spark.operators.metrics import (
    classification_metrics,
    confusion_sums,
    evaluate_classification,
)

CELLS = {"tp": (1, 1), "tn": (0, 0), "fp": (1, 0), "fn": (0, 1)}

# (grp, predicted, actual, w, keep): nulls in predicted, actual and keep;
# group "c"'s predictions are all null
ROWS = [
    ("a", 1, 1, 2, True),
    ("a", 1, 0, 1, True),
    ("a", 0, 0, 3, False),
    ("a", 0, 1, 1, True),
    ("a", None, 1, 5, True),
    ("a", 1, None, 4, True),
    ("b", 1, 1, 1, False),
    ("b", 1, 1, 2, True),
    ("b", 0, 0, 1, True),
    ("b", 0, 0, 2, None),
    ("b", 0, 1, 3, True),
    ("c", None, 0, 1, True),
    ("c", None, 1, 1, True),
]


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(
        ROWS, "grp string, predicted int, actual int, w int, keep boolean"
    )


def _expected(rows, weighted: bool, filtered: bool) -> dict[str, int]:
    """Plain-Python G1: a row counts where its pair matches and ``keep``
    is true, a null anywhere counting nowhere."""
    out = dict.fromkeys(CELLS, 0)
    for _grp, p, a, w, keep in rows:
        if filtered and keep is not True:
            continue
        for name, cell in CELLS.items():
            if (p, a) == cell:
                out[name] += w if weighted else 1
    return out


@pytest.mark.parametrize("weighted", [False, True])
@pytest.mark.parametrize("filtered", [False, True])
def test_confusion_sums_match_python_counts(frame, weighted, filtered):
    cm = confusion_sums(
        "predicted",
        F.col("actual"),
        where=F.col("keep") if filtered else None,
        weight=F.col("w") if weighted else None,
    )
    assert list(cm) == ["tp", "tn", "fp", "fn"]
    row = frame.agg(*(c.alias(k) for k, c in cm.items())).collect()[0]
    assert row.asDict() == _expected(ROWS, weighted, filtered)

    per_group = {
        r["grp"]: {k: r[k] for k in CELLS}
        for r in frame.groupBy("grp").agg(*(c.alias(k) for k, c in cm.items())).collect()
    }
    assert per_group == {
        g: _expected([r for r in ROWS if r[0] == g], weighted, filtered) for g in "abc"
    }


def test_null_predictions_count_zero_not_null(frame):
    """Rows whose predictions are all null have 0 in every cell, as the
    oracle's ``SUM(CASE WHEN ... THEN 1 ELSE 0 END)`` has. A plain sum of
    the boolean cell predicate cast to long is NULL for a cell whose rows
    all carry its actual value."""
    nulls = frame.filter(F.col("predicted").isNull() & (F.col("actual") == 1))
    cm = confusion_sums("predicted", "actual")
    got = nulls.agg(*(c.alias(k) for k, c in cm.items())).collect()[0].asDict()
    assert got == dict.fromkeys(CELLS, 0)
    bool_sum = F.sum(((F.col("predicted") == 1) & (F.col("actual") == 1)).cast("long"))
    assert nulls.agg(bool_sum).collect()[0][0] is None


def test_cells_over_no_rows_are_null_and_read_as_zero(frame):
    empty = frame.filter(F.lit(False))
    cm = confusion_sums("predicted", "actual")
    row = empty.agg(*cm.values()).collect()[0]
    assert list(row) == [None] * 4
    assert classification_metrics(*row) == classification_metrics(0, 0, 0, 0)


def test_classification_metrics_zero_division():
    zero = {"accuracy": 0.0, "precision": 0.0, "recall": 0.0, "f1_score": 0.0, "specificity": 0.0}
    # empty input
    assert classification_metrics(0, 0, 0, 0) == {"tp": 0, "tn": 0, "fp": 0, "fn": 0, **zero}
    assert classification_metrics(None, None, None, None) == classification_metrics(0, 0, 0, 0)
    # no positives: recall has no denominator
    m = classification_metrics(0, 7, 3, 0)
    assert (m["recall"], m["precision"], m["f1_score"]) == (0.0, 0.0, 0.0)
    assert (m["accuracy"], m["specificity"]) == (0.7, 0.7)
    # no predicted positives: precision has no denominator
    m = classification_metrics(0, 5, 0, 5)
    assert (m["precision"], m["recall"], m["f1_score"]) == (0.0, 0.0, 0.0)
    assert (m["accuracy"], m["specificity"]) == (0.5, 1.0)
    # no negatives: specificity has no denominator; 4dp rounding
    m = classification_metrics(2, 0, 0, 1)
    assert m == {
        "tp": 2, "tn": 0, "fp": 0, "fn": 1,
        "accuracy": 0.6667, "precision": 1.0, "recall": 0.6667,
        "f1_score": 0.8, "specificity": 0.0,
    }


def test_evaluate_classification_slices_in_one_pass(frame):
    """All rows first, then one dict per slice, each equal to evaluating
    that slice on its own."""
    slices = [F.col("grp") == "a", F.col("keep")]
    got = evaluate_classification(frame, *slices, actual="actual")
    assert len(got) == 3
    assert got[0] == classification_metrics(**_expected(ROWS, False, False))
    assert got[1] == evaluate_classification(frame.filter(F.col("grp") == "a"), actual="actual")[0]
    assert got[2] == classification_metrics(**_expected(ROWS, False, True))
    [empty] = evaluate_classification(frame.filter(F.lit(False)), actual="actual")
    assert empty == classification_metrics(0, 0, 0, 0)
