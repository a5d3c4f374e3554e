from __future__ import annotations

import contextlib
import io

import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from logdb_spark.plans.session import get_spark

    s = get_spark("logdb-tests")
    yield s


@pytest.fixture(scope="session")
def oracle_small():
    from tools.diffcheck import oracle_connection

    return oracle_connection(SF_SMALL)


@pytest.fixture(scope="session")
def oracle_medium():
    from tools.diffcheck import oracle_connection

    return oracle_connection(SF_MEDIUM)


@pytest.fixture(scope="session")
def built_ops(spark):
    """Every registered operator built once at SF_SMALL, for the tests
    that only inspect what a build returns. Maps name -> (schema, plan):
    the output schema and the formatted physical plan, both taken
    before the next build releases the operator's tracked caches. An
    exception stands in for what could not be obtained; a failed build
    stands in for both."""
    from logdb_spark.registry import all_operators

    built = {}
    for name, op in all_operators().items():
        try:
            df = op.fn(spark, SF_SMALL)
            schema = df.schema
        except Exception as exc:
            built[name] = (exc, exc)
            continue
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            plan = buf.getvalue()
        except Exception as exc:
            plan = exc
        built[name] = (schema, plan)
    return built
