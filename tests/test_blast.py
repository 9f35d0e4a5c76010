"""Automated driver-window blast radius (queries/blast.py): a change to
a shared kyuubi_spark module must promote every dependent registry query
into the next driver window without hand-maintenance."""

from __future__ import annotations

from kyuubi_spark.queries import blast


def test_module_of_paths():
    assert (
        blast._module_of("kyuubi_spark/queries/tpch.py")
        == "kyuubi_spark.queries.tpch"
    )
    assert (
        blast._module_of("kyuubi_spark/queries/__init__.py")
        == "kyuubi_spark.queries"
    )
    assert blast._module_of("tests/test_blast.py") is None
    assert blast._module_of("kyuubi_spark/queries/notes.md") is None


def test_affected_closure_transitive():
    g = {
        "a": {"b"},
        "b": {"c"},
        "c": set(),
        "d": set(),
    }
    assert blast.affected_closure({"c"}, g) == {"a", "b", "c"}
    assert blast.affected_closure({"d"}, g) == {"d"}


def test_affected_closure_hub_does_not_conduct():
    """Every query module imports the registry hub; the hub importing all
    registrars must NOT mark the whole registry affected."""
    hub = "kyuubi_spark.queries"
    g = {
        "kyuubi_spark.queries.tpch": {hub},
        "kyuubi_spark.queries.sql4": {hub, "kyuubi_spark.sources.arrowdir"},
        hub: {"kyuubi_spark.queries.tpch", "kyuubi_spark.queries.sql4"},
        "kyuubi_spark.sources.arrowdir": set(),
    }
    affected = blast.affected_closure({"kyuubi_spark.sources.arrowdir"}, g)
    assert "kyuubi_spark.queries.sql4" in affected
    assert "kyuubi_spark.queries.tpch" not in affected


def test_import_graph_covers_registrars():
    g = blast.import_graph()
    # the graph sees every query registrar module and its real deps
    assert "kyuubi_spark.queries.tpch" in g
    assert "kyuubi_spark.queries.pipeline8" in g
    deps = set().union(*g.values())
    assert any(d.startswith("kyuubi_spark.functions") for d in deps)


def test_import_graph_is_parsed_once_per_process():
    """all_queries() ranks the registry by the blast radius on every call
    (once per oracle/golden test); re-parsing the package each time added
    ~1.5 s per call whenever a kyuubi_spark module had changed."""
    assert blast.import_graph() is blast.import_graph()


def test_git_blast_radius_is_registry_subset_and_in_window():
    from kyuubi_spark.queries import REGISTRY, all_queries

    order = list(all_queries())
    affected = blast.git_blast_radius(REGISTRY)
    assert affected <= set(REGISTRY)
    head = set(order[: max(blast.DRIVER_WINDOW, len(affected))])
    assert affected <= head, sorted(affected - head)
