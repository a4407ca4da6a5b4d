"""Numeric env parsing: one reader (``session.env_number``) behind
``$SPARK_GRAFT_CPUS`` and the bench's rep count and time budget, and a
bad value warns instead of stopping an import or a bench run."""

from data_engineering_bootcamp_spark.session import env_number, graft_cpus


def test_graft_cpus_reads_valid_values(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert graft_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert graft_cpus() == 32
    # the bench's reads go through the same reader
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "5")
    assert env_number("SPARK_GRAFT_BENCH_REPS", 3) == 5
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_SEC", "12.5")
    assert env_number("SPARK_GRAFT_BENCH_BUDGET_SEC", 900.0) == 12.5
    monkeypatch.delenv("SPARK_GRAFT_BENCH_BUDGET_SEC")
    assert env_number("SPARK_GRAFT_BENCH_BUDGET_SEC", 900.0) == 900.0


def test_graft_cpus_falls_back_on_non_integer(monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    assert graft_cpus() == 32
    assert "SPARK_GRAFT_CPUS='four'" in capsys.readouterr().err
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "three")
    assert env_number("SPARK_GRAFT_BENCH_REPS", 3) == 3
    assert "SPARK_GRAFT_BENCH_REPS='three'" in capsys.readouterr().err
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_SEC", "abc")
    assert env_number("SPARK_GRAFT_BENCH_BUDGET_SEC", 900.0) == 900.0
    assert "SPARK_GRAFT_BENCH_BUDGET_SEC='abc'" in capsys.readouterr().err
