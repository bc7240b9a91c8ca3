"""Session defaults that change what a DataFrame build costs on the
driver, measured as py4j commands."""

from __future__ import annotations

from py4j.clientserver import JavaClient

SF0001 = "/root/testdata/sf0.001"


def test_build_sends_no_origin_commands(spark, monkeypatch):
    """``get_spark`` turns off PySpark's DataFrame origin capture, so
    building the flagship query sends no ``PySparkCurrentOrigin``
    set/clear per Column call (with it on, a cold build sends about 90)."""
    import __spark_entry__ as entry

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    sent: list[str] = []
    real = JavaClient.send_command

    def spy(self, command, *args, **kwargs):
        sent.append(command)
        return real(self, command, *args, **kwargs)

    monkeypatch.setattr(JavaClient, "send_command", spy)
    entry.flagship(spark, SF0001)
    monkeypatch.undo()
    assert sent, "the spy saw no py4j command"
    assert [c for c in sent if "PySparkCurrentOrigin" in c] == []
