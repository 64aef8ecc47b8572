"""Engine facade: catalog access, named queries, SQL, and the plan
builder must all work through the one handle (and never drift from the
gated registry — the facade is pure delegation)."""

import pytest

from codecdb_queryengine_spark.engine import Engine


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    return Engine(spark, sf_dir)


def test_table_access_and_unknown_table_message(eng):
    assert eng.table("lineitem").count() > 0
    with pytest.raises(KeyError, match="available"):
        eng.table("nope")


def test_named_query_matches_direct_call(eng, spark, sf_dir):
    import __spark_entry__ as entry

    direct = entry.queries()["q6"](spark, sf_dir).collect()
    via_engine = eng.query("q6").collect()
    assert via_engine == direct
    with pytest.raises(KeyError, match="available"):
        eng.query("q999")


def test_sql_over_registered_views(eng):
    n = eng.sql("SELECT count(*) AS n FROM lineitem").collect()[0].n
    assert n == eng.table("lineitem").count()


def test_plan_builder_entry(eng):
    got = eng.plan("lineitem").filter("l_quantity < 3").done().count()
    assert got == eng.table("lineitem").filter("l_quantity < 3").count()


def test_cli_list(capsys):
    from codecdb_queryengine_spark.__main__ import main

    assert main(["list", "--prefix", "q1"]) == 0
    out = capsys.readouterr().out.split()
    assert "q1" in out and "q19" in out


def test_cli_run_and_sql(capsys, sf_dir):
    from codecdb_queryengine_spark.__main__ import main

    assert main(["run", "q6", "--sf-dir", sf_dir, "-n", "5"]) == 0
    out = capsys.readouterr().out
    assert "revenue" in out
    assert main(["sql", "SELECT count(*) AS n FROM lineitem", "--sf-dir", sf_dir]) == 0
    assert "n" in capsys.readouterr().out


def test_ensure_session_confs_warns_with_conf_and_cause():
    """A conf the session refuses is reported, not swallowed: the warning
    names the conf and the error, and the remaining confs are still set."""
    from codecdb_queryengine_spark import catalog

    class _Conf:
        def __init__(self):
            self.set_ok = []

        def set(self, k, v):
            if k == "spark.sql.ansi.enabled":
                raise RuntimeError("locked by the cluster")
            self.set_ok.append(k)

    class _Session:
        conf = _Conf()

    stub = _Session()
    try:
        with pytest.warns(UserWarning, match=r"spark\.sql\.ansi\.enabled.*locked by the cluster"):
            catalog.ensure_session_confs(stub)
        assert len(stub.conf.set_ok) == len(catalog._SESSION_CONFS) - 1
    finally:
        catalog._conf_applied.discard(stub)
