"""tools/ab_time.py command-line errors: usage line and exit status 2,
checked before any Spark session starts."""

from __future__ import annotations

import pytest

from tools import ab_time


@pytest.mark.parametrize(
    "argv, message",
    [
        (["sf", "pricing_summary", "--plan"], "expected one argument"),
        (["sf", "pricing_summary,no_such_query"], "unknown query no_such_query"),
        (["sf"], "required"),
    ],
)
def test_bad_arguments_print_usage_and_exit_2(argv, message, capsys):
    with pytest.raises(SystemExit) as exc:
        ab_time.main(argv)
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert ab_time.USAGE in err and message in err


def test_arguments_parse_in_any_order():
    args = ab_time.parse_args(
        ["sf", "pricing_summary,percentiles", "--plan", "out.txt", "3"],
        ab_time._calls(),
    )
    assert (args.sf_dir, args.queries, args.reps, args.plan_out) == (
        "sf", ["pricing_summary", "percentiles"], 3, "out.txt"
    )
