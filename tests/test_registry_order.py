"""Registry contract: ``load_all()`` returns the complete registry, in
import order, with one callable per name. Callers (``__spark_entry__``,
``perfbench``, the scripts) look queries up by name, so the order is
the plain insertion order of the ``@query`` decorators."""

from etl_work_flow_for_big_data_spark.queries import REGISTRY, load_all


def test_every_query_has_callable_and_registry_is_complete():
    reg = load_all()
    assert len(reg) >= 83
    for spec in reg.values():
        assert callable(spec.fn)


def test_load_all_returns_registry_in_import_order():
    reg = load_all()
    assert reg is REGISTRY
    # each entry is keyed by its own name, so insertion order is the
    # order the @query decorators ran in
    assert [spec.name for spec in reg.values()] == list(reg)
    # a second call re-sorts nothing and registers nothing twice
    again = load_all()
    assert list(again) == list(reg)
    assert all(again[n] is reg[n] for n in reg)


def test_entry_points_expose_every_query_in_registry_order():
    import __spark_entry__ as e

    names = list(load_all())
    assert list(e.queries()) == names
    assert list(e.oracle_sql()) == names


def test_query_decorator_registers_and_returns_the_fn():
    """The registry holds the query function itself: every query reads
    through ``catalog.load_table``, which tunes the session, so no
    wrapper sits between a caller and the function."""
    from etl_work_flow_for_big_data_spark.queries import query

    def probe_fn(spark, sf_dir):
        """probe doc"""

    name = "registry_probe_query"
    try:
        assert query(name, "SELECT 1", doc="d")(probe_fn) is probe_fn
        spec = REGISTRY[name]
        assert (spec.name, spec.oracle, spec.doc) == (name, "SELECT 1", "d")
        assert spec.fn is probe_fn
        assert list(REGISTRY)[-1] == name
    finally:
        REGISTRY.pop(name, None)
