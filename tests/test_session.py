"""``$SPARK_GRAFT_CPUS`` parsing: one parser, and a bad value warns
instead of stopping an import."""

from data_engineering_bootcamp_spark.session import graft_cpus


def test_graft_cpus_reads_valid_values(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert graft_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert graft_cpus() == 32


def test_graft_cpus_falls_back_on_non_integer(monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    assert graft_cpus() == 32
    assert "SPARK_GRAFT_CPUS='four'" in capsys.readouterr().err
