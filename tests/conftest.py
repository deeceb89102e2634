from __future__ import annotations

import pytest

from flinkrealtimedatawarehouse_spark.session import get_spark


def pytest_configure(config):
    """``pytest.ini`` deselects slow tests with ``-m "not slow"``. A test
    named by node id (``path::name``) is asked for explicitly, so drop
    that default filter then — unless ``-m`` was given on the command
    line."""
    explicit_m = any(a.startswith("-m") for a in config.invocation_params.args)
    by_node_id = any("::" in a for a in config.args)
    if by_node_id and not explicit_m and config.option.markexpr == "not slow":
        config.option.markexpr = ""


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    yield s
