"""Output checks of one pass, run after its timed window.

``spans`` and ``rows`` must equal the goldens under span-sequence
equality, normalised as the end-to-end tests normalise them; the
quarantine of a clean corpus must be empty; the CSV sink holds one row
per document that has rows. Each check returns a list of problems, empty
when the sink is correct.
"""

from __future__ import annotations

import pandas as pd

SPAN_COLS = ["doc_id", "kind", "text", "media_ref", "order"]
ROW_KEYS = ["doc_id", "page", "row"]


def _norm(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    out = df.sort_values(keys).reset_index(drop=True)
    for c in out.columns:
        out[c] = out[c].where(pd.notna(out[c]), "").astype(str)
    return out


def _diff(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    if list(got.columns) != list(exp.columns):
        return [f"{name}: columns {list(got.columns)} != {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"{name}: {len(got)} rows, expected {len(exp)}"]
    bad = (got != exp).any(axis=1)
    if bad.any():
        i = int(bad.idxmax())
        return [
            f"{name}: {int(bad.sum())} rows differ, first "
            f"{got.iloc[i].to_dict()} != {exp.iloc[i].to_dict()}"
        ]
    return []


def check_spans(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    return _diff(
        "spans",
        _norm(got[SPAN_COLS], ["doc_id", "order"]),
        _norm(expected[SPAN_COLS], ["doc_id", "order"]),
    )


def check_rows(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    cols = list(expected.columns)
    return _diff("rows", _norm(got[cols], ROW_KEYS), _norm(expected, ROW_KEYS))


def check_csv(got: pd.DataFrame, expected_rows: pd.DataFrame) -> list[str]:
    want = set(expected_rows["doc_id"])
    if len(got) != len(want) or set(got["doc_id"]) != want:
        return [f"csv: {len(got)} documents, expected {len(want)} with rows"]
    return []


def check_quarantine(got: pd.DataFrame) -> list[str]:
    return [f"quarantine: {len(got)} rows on a clean corpus"] if len(got) else []


def check_pass(sinks: dict[str, pd.DataFrame], expected_spans: pd.DataFrame,
               expected_rows: pd.DataFrame) -> list[str]:
    """Problems with the sinks a pass wrote (``sinks`` maps sink name to
    its read-back table; sinks the workload does not write are absent)."""
    problems = []
    if "spans" in sinks:
        problems += check_spans(sinks["spans"], expected_spans)
    if "rows" in sinks:
        problems += check_rows(sinks["rows"], expected_rows)
    if "csv" in sinks:
        problems += check_csv(sinks["csv"], expected_rows)
    if "quarantine" in sinks:
        problems += check_quarantine(sinks["quarantine"])
    return problems
