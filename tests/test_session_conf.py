"""Session-construction conf merging: deployment-supplied JVM options
(spark-defaults.conf, caller extra_conf) must survive alongside the
engine's code-cache flags instead of being clobbered — on a real cluster
those carry GC tuning and -D props the operator depends on."""

from __future__ import annotations

import os

from aind_hcr_data_transformation_spark.session import (
    _CODE_CACHE_FLAGS,
    _defaults_conf_value,
    _merged_java_options,
    _merged_worker_pythonpath,
    _PACKAGE_ROOT,
)


def test_merge_without_deployment_options():
    assert _merged_java_options("driver", None) == _CODE_CACHE_FLAGS


def test_merge_keeps_caller_extra_conf_flags_last():
    user = "-XX:+UseG1GC -Dapp.env=prod"
    merged = _merged_java_options(
        "executor", {"spark.executor.extraJavaOptions": user}
    )
    assert merged.startswith(_CODE_CACHE_FLAGS)
    # user flags LAST: for repeated -XX flags the JVM honors the final
    # occurrence, so operator overrides of the same flag win
    assert merged.endswith(user)


def test_merge_reads_spark_defaults_conf(tmp_path, monkeypatch):
    conf = tmp_path / "spark-defaults.conf"
    conf.write_text(
        "# comment\n"
        "spark.driver.extraJavaOptions  -XX:MaxGCPauseMillis=200\n"
        "spark.executor.memory 8g\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert (
        _defaults_conf_value("spark.driver.extraJavaOptions")
        == "-XX:MaxGCPauseMillis=200"
    )
    assert _defaults_conf_value("spark.executor.extraJavaOptions") is None
    merged = _merged_java_options("driver", None)
    assert merged == f"{_CODE_CACHE_FLAGS} -XX:MaxGCPauseMillis=200"


def test_defaults_conf_missing_dir(monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", "/nonexistent-conf-dir")
    assert _defaults_conf_value("spark.driver.extraJavaOptions") is None


def test_merge_combines_defaults_and_caller(tmp_path, monkeypatch):
    conf = tmp_path / "spark-defaults.conf"
    conf.write_text("spark.driver.extraJavaOptions -Da=1\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    merged = _merged_java_options(
        "driver", {"spark.driver.extraJavaOptions": "-Db=2"}
    )
    assert merged == f"{_CODE_CACHE_FLAGS} -Da=1 -Db=2"


def test_worker_pythonpath_appends_package_root(tmp_path, monkeypatch):
    conf = tmp_path / "spark-defaults.conf"
    conf.write_text("spark.executorEnv.PYTHONPATH /deploy/site\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    merged = _merged_worker_pythonpath(
        {"spark.executorEnv.PYTHONPATH": "/srv/libs"}
    )
    assert merged.split(os.pathsep) == ["/deploy/site", "/srv/libs", _PACKAGE_ROOT]


def test_default_driver_memory_is_half_the_host_up_to_24g():
    from aind_hcr_data_transformation_spark.session import _default_driver_memory

    gib = 1 << 30
    assert _default_driver_memory(16 * gib) == "8192m"
    assert _default_driver_memory(15 * gib + 512 * (1 << 20)) == "7936m"
    assert _default_driver_memory(48 * gib) == "24576m"
    assert _default_driver_memory(256 * gib) == "24576m"
    assert _default_driver_memory(0) == "24576m"
    # the host's own figure, read with os.sysconf, never exceeds half
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mib = int(_default_driver_memory()[:-1])
    assert 0 < mib <= min(24 << 10, phys // 2 >> 20)


class _DriverConf:
    """``spark.conf`` of a session a driver built without the engine's
    static confs: setting one raises, as Spark's ``RuntimeConfig`` does."""

    def __init__(self, static: dict[str, str]):
        self.static, self.live = static, {}

    def set(self, key, value):
        if key in self.static:
            raise RuntimeError(f"Cannot modify the value of a static config: {key}")
        self.live[key] = value

    def get(self, key, default=None):
        return self.live.get(key, self.static.get(key, default))


def test_apply_session_confs_names_static_confs_it_could_not_set(caplog):
    """The static defaults a live session cannot take come back, and one
    warning names them; a static conf already at the engine's value
    does not."""
    from types import SimpleNamespace

    from aind_hcr_data_transformation_spark.session import (
        _DEFAULT_CONFS,
        apply_session_confs,
    )

    session = SimpleNamespace(
        conf=_DriverConf(
            {
                "spark.sql.codegen.cache.maxEntries": "100",
                "spark.python.daemon.module": "pyspark.daemon",
                "spark.ui.enabled": "false",
            }
        )
    )
    with caplog.at_level("WARNING"):
        missed = apply_session_confs(session)
    assert missed == ["spark.python.daemon.module", "spark.sql.codegen.cache.maxEntries"]
    (record,) = caplog.records
    assert all(k in record.getMessage() for k in missed)
    assert session.conf.live["spark.sql.session.timeZone"] == _DEFAULT_CONFS["spark.sql.session.timeZone"]


def test_apply_session_confs_on_an_engine_session_misses_nothing(spark, caplog):
    from aind_hcr_data_transformation_spark.session import apply_session_confs

    with caplog.at_level("WARNING"):
        assert apply_session_confs(spark) == []
    assert not caplog.records
