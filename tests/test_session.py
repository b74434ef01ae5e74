"""get_spark's builder conf, inspected before ``getOrCreate`` — no JVM is
started, so these run beside the shared test session."""

import pytest

from spreadsheet_etl_engine_spark.session import _builder

DAEMON = "spark.python.daemon.module"


def _options(monkeypatch, *, master=None, extra_conf=None, env_master=None):
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    if env_master is None:
        monkeypatch.delenv("MASTER", raising=False)
    else:
        monkeypatch.setenv("MASTER", env_master)
    return _builder("conf-probe", master=master, shuffle_partitions=None,
                    extra_conf=extra_conf)._options


def test_local_default_wires_worker_daemon(monkeypatch):
    opts = _options(monkeypatch)
    assert opts["spark.master"].startswith("local[")
    assert opts[DAEMON] == "spark_graft_pydaemon"


@pytest.mark.parametrize("how", ["master", "extra_conf", "env"])
def test_cluster_master_skips_worker_daemon(monkeypatch, how):
    """The custom daemon module resolves only through the driver's
    PYTHONPATH, which cluster executors never see: any way of naming a
    cluster master must leave the stock daemon in place."""
    url = "spark://head:7077"
    opts = _options(
        monkeypatch,
        master=url if how == "master" else None,
        extra_conf={"spark.master": url} if how == "extra_conf" else None,
        env_master=url if how == "env" else None,
    )
    assert DAEMON not in opts
    if how != "env":
        assert opts["spark.master"] == url


def test_extra_conf_master_overrides_master_argument(monkeypatch):
    """extra_conf is applied last, so its master is the one the session
    gets — and the one the daemon decision must follow."""
    opts = _options(monkeypatch, master="local[2]",
                    extra_conf={"spark.master": "yarn"})
    assert opts["spark.master"] == "yarn"
    assert DAEMON not in opts
