"""Answer checks. Each returns True only for a correct answer; anything
else, including a malformed response, is False. `self_test` feeds each
check a correct answer and deliberately wrong ones."""

from __future__ import annotations

import csv
import io

#: aggregates are printed with three decimals (`format_result`)
AGG_ABS_TOL = 0.0005


def agg_tolerance(want: float) -> float:
    return AGG_ABS_TOL + 1e-9 * abs(want)


def agg_ok(response, want: float | None) -> bool:
    """`{"result": "The overall <label> is <x.xxx>"}` within rounding of
    the expected value; `None` expects the no-rows wording."""
    try:
        text = response["result"]
    except (TypeError, KeyError):
        return False
    if not isinstance(text, str):
        return False
    if want is None:
        return text.endswith("undefined (no rows)")
    try:
        got = float(text.rsplit(" ", 1)[1])
    except (IndexError, ValueError):
        return False
    return abs(got - want) <= agg_tolerance(want)


def debug_agg_ok(response, want: float | None, n_rows: int) -> bool:
    """A `debug=true` aggregate: the result, plus per-partition partials
    whose sizes add up to the table's row count."""
    try:
        sizes = sum(p["size"] for p in response["partitions"])
    except (TypeError, KeyError):
        return False
    return agg_ok(response, want) and sizes == n_rows


def _parse(field: str) -> float | None:
    return float(field) if field != "" else None


def csv_rows_ok(text, columns: list[str], rows: list[tuple], cap: int) -> bool:
    """CSV with the header, then `rows` in order; past `cap` rows the
    output stops with the truncation marker."""
    if not isinstance(text, str):
        return False
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    want_n = min(len(rows), cap)
    truncated = len(rows) > cap
    if len(lines) != 1 + want_n + (1 if truncated else 0):
        return False
    if truncated and lines[-1] != f"# truncated at {cap} rows":
        return False
    reader = csv.reader(io.StringIO("\n".join(lines[: 1 + want_n])))
    if next(reader) != list(columns):
        return False
    try:
        return all(
            tuple(_parse(f) for f in got) == want for got, want in zip(reader, rows[:want_n])
        )
    except ValueError:
        return False


def locations_ok(response, keys: list[str], key_rows: dict[str, list]) -> bool:
    """Partition numbers 1..n over the sorted string keys, each with the
    generator's row count."""
    try:
        parts = response["partitions"]
        got = [(parts[str(i)]["key"], parts[str(i)]["rows"]) for i in range(1, len(parts) + 1)]
    except (TypeError, KeyError):
        return False
    return got == [(k, len(key_rows[k])) for k in keys]


def ls_names(response) -> set[str] | None:
    """Entry names of an `ls` listing."""
    if not isinstance(response, str) or not response.startswith("Found "):
        return None
    return {line.split()[-1] for line in response.split("\n")[1:] if line.strip()}


def query_ok(rows: list[tuple], cols: list[str], want: tuple[int, list[str], str], value_hash) -> bool:
    """Row count, column names and order-insensitive value hash equal the
    oracle's."""
    n, want_cols, want_hash = want
    return len(rows) == n and sorted(cols) == sorted(want_cols) and value_hash(rows, cols) == want_hash


def self_test(value_hash) -> dict[str, bool]:
    """Correct answers must pass; every injected wrong answer must fail.
    Returns {case: passed_as_expected}."""
    cols = ["SEQN", "X"]
    rows = [(1.0, 2.5), (2.0, None), (3.0, 7.25)]
    good_csv = "SEQN,X\n1,2.5\n2,\n3,7.25\n"
    want = 12.3456789
    q_rows = [(1, "a"), (2, "b")]
    q_want = (2, ["k", "v"], value_hash(q_rows, ["k", "v"]))
    loc_keys = ["0", "1"]
    loc_rows = {"0": [()], "1": [(), ()]}
    good_loc = {"partitions": {"1": {"key": "0", "rows": 1}, "2": {"key": "1", "rows": 2}}}
    return {
        "agg_correct_passes": agg_ok({"result": f"The overall average is {want:.3f}"}, want),
        "agg_outside_tolerance_fails": not agg_ok(
            {"result": f"The overall average is {want + 2 * agg_tolerance(want):.3f}"}, want
        ),
        "rows_correct_pass": csv_rows_ok(good_csv, cols, rows, 100),
        "dropped_row_fails": not csv_rows_ok("SEQN,X\n1,2.5\n3,7.25\n", cols, rows, 100),
        "reordered_cat_fails": not csv_rows_ok("SEQN,X\n2,\n1,2.5\n3,7.25\n", cols, rows, 100),
        "truncated_cat_passes": csv_rows_ok(
            "SEQN,X\n1,2.5\n2,\n# truncated at 2 rows\n", cols, rows, 2
        ),
        "missing_truncation_marker_fails": not csv_rows_ok("SEQN,X\n1,2.5\n2,\n", cols, rows, 2),
        "debug_partition_sizes_pass": debug_agg_ok(
            {"result": f"The overall average is {want:.3f}", "partitions": [{"size": 3}]}, want, 3
        ),
        "debug_partition_lost_fails": not debug_agg_ok(
            {"result": f"The overall average is {want:.3f}", "partitions": [{"size": 2}]}, want, 3
        ),
        "locations_correct_pass": locations_ok(good_loc, loc_keys, loc_rows),
        "wrong_location_count_fails": not locations_ok(
            {"partitions": {"1": {"key": "0", "rows": 1}, "2": {"key": "1", "rows": 3}}},
            loc_keys,
            loc_rows,
        ),
        "query_correct_passes": query_ok(q_rows, ["k", "v"], q_want, value_hash),
        "wrong_query_hash_fails": not query_ok(
            q_rows, ["k", "v"], (2, ["k", "v"], "0" * 16), value_hash
        ),
        "wrong_query_answer_fails": not query_ok(
            [(1, "a"), (2, "c")], ["k", "v"], q_want, value_hash
        ),
    }
