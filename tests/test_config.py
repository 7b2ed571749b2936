"""Config-surface parity tests (SURVEY §2C merge semantics)."""

from __future__ import annotations

import pytest

from bert_etl_spark.config import (
    ConfigError,
    merge_job_config,
    to_reader_options,
    to_spark_confs,
)


def test_merge_order_every_then_job_then_defaults():
    conf = merge_job_config(
        every_job={"memory_size": 256, "timeout": 300},
        job={"timeout": 600, "batch_size": 10},
    )
    assert conf["memory_size"] == 256     # from every_lambda
    assert conf["timeout"] == 600         # job overrides every_lambda
    assert conf["batch_size"] == 10       # job overrides default
    assert conf["max-retries"] == 10      # default survives


def test_memory_multiple_of_64_validated():
    with pytest.raises(ConfigError):
        merge_job_config(None, {"memory_size": 100})


def test_deploy_keys_ignored():
    conf = merge_job_config(None, {"iam": {"execution_role_arn": "x"}, "kms": {}})
    assert "iam" not in conf and "kms" not in conf


def test_spark_conf_mapping():
    conf = merge_job_config(None, {"workers": 64, "max-retries": 3,
                                   "environment": {"BERT_QUEUE_TYPE": "REDIS"}})
    spark_confs = to_spark_confs(conf)
    assert spark_confs["spark.sql.shuffle.partitions"] == "64"
    assert spark_confs["spark.task.maxFailures"] == "3"
    assert spark_confs["spark.executorEnv.BERT_QUEUE_TYPE"] == "REDIS"
    assert spark_confs["spark.executor.memory"] == "128m"


def test_reader_options():
    conf = merge_job_config(None, {"batch_size": 5, "batch_size_delay": 30})
    opts = to_reader_options(conf)
    assert opts["maxFilesPerTrigger"] == 5
    assert opts["trigger_processing_time"] == "30 seconds"


def test_driver_memory_default_is_half_of_physical_capped():
    """The local driver heap defaults to half of physical memory, capped
    at 48g; unreadable memory falls back to the cap."""
    from bert_etl_spark.session import default_driver_memory

    gib = 1024**3
    assert default_driver_memory(16 * gib) == "8192m"
    assert default_driver_memory(15 * gib) == "7680m"
    assert default_driver_memory(96 * gib) == "49152m"
    assert default_driver_memory(512 * gib) == "49152m"
    assert default_driver_memory(0) == "48g"
    phys = default_driver_memory()
    assert phys.endswith(("m", "g")) and int(phys[:-1]) > 0
