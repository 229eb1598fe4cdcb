import pytest

from perfbench.sqlmetrics import Metric, parse, parse_value


@pytest.mark.parametrize(
    "text, want",
    [
        ("64.2 MiB", 64.2 * 2**20),
        ("0.0 B", 0.0),
        ("481.2 KiB", 481.2 * 1024),
        ("1.5 GiB", 1.5 * 2**30),
        ("1.2 s", 1.2),
        ("44 ms", 0.044),
        ("3.5 m", 210.0),
        ("1.25 h", 4500.0),
        ("3,456", 3456.0),
        ("300,000", 300000.0),
        ("12", 12.0),
        ("2.5", 2.5),
    ],
)
def test_single_values(text, want):
    assert parse_value(text) == pytest.approx(want)
    assert parse(text) == Metric(total=pytest.approx(want))


def test_per_task_form():
    m = parse("total (min, med, max (stageId: taskId))\n3.7 s (177 ms, 1.2 s, 1.3 s (stage 2.0: task 4))")
    assert m.total == pytest.approx(3.7)
    assert (m.min, m.med, m.max) == (pytest.approx(0.177), pytest.approx(1.2), pytest.approx(1.3))
    assert (m.stage, m.task) == ("2.0", 4)


def test_per_task_sizes_with_thousands():
    m = parse(
        "total (min, med, max (stageId: taskId))\n"
        "1,201.1 MiB (64.0 KiB, 68.0 MiB, 1,068.0 MiB (stage 12.1: task 1234))"
    )
    assert m.total == pytest.approx(1201.1 * 2**20)
    assert m.min == pytest.approx(64 * 1024)
    assert m.max == pytest.approx(1068.0 * 2**20)
    assert (m.stage, m.task) == ("12.1", 1234)


def test_average_form_reports_the_median():
    m = parse("(min, med, max (stageId: taskId)):\n(1, 1.5, 2 (stage 109.0: task 206))")
    assert (m.total, m.min, m.med, m.max) == (1.5, 1.0, 1.5, 2.0)
    assert (m.stage, m.task) == ("109.0", 206)


@pytest.mark.parametrize("bad", ["", "fast", "12 parsecs", "total (min, med, max (stageId: taskId))\n1 s"])
def test_rejects_malformed(bad):
    with pytest.raises(ValueError):
        parse(bad)
