"""Golden tests: the Spark parser must reproduce the reference's 7
hand-verified expected ability tables (character_ability_test_cases/*.csv)
from synthetic html-lines fixtures (SURVEY.md §5)."""

from __future__ import annotations

import csv
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dffoo_data_pipeline_spark.plans.manual_tables import DATASETS_DIR

GOLDEN_DIR = Path(DATASETS_DIR).parent / "character_ability_test_cases"
CHARS = ["aerith", "astos", "auron", "lenna", "paine", "sherlotta", "warrioroflight"]


def _golden_rows(char: str) -> dict[str, tuple[int, int, int]]:
    with open(GOLDEN_DIR / f"{char}_ability_df.csv") as f:
        return {
            r["ability_name"]: (
                int(r["main_target_hp_attacks"]),
                int(r["non_target_hp_attacks"]),
                int(r["hp_dmg_cap_up_perc"]),
            )
            for r in csv.DictReader(f)
        }


@pytest.fixture(scope="module")
def parsed(spark):
    from dffoo_data_pipeline_spark.fixtures import ability_line_rows
    from dffoo_data_pipeline_spark.plans.abilities import parse_ability_lines
    from dffoo_data_pipeline_spark.schemas import ABILITY_HTML_LINES

    lines = spark.createDataFrame(ability_line_rows(), ABILITY_HTML_LINES)
    rows = parse_ability_lines(lines).collect()
    out: dict[str, dict[str, tuple[int, int, int]]] = {}
    for r in rows:
        out.setdefault(r["char_name"], {})[r["ability_name"]] = (
            r["main_target_hp_attacks"],
            r["non_target_hp_attacks"],
            r["hp_dmg_cap_up_perc"],
        )
    return out


@pytest.mark.reference
@pytest.mark.parametrize("char", CHARS)
def test_parser_matches_reference_golden(parsed, char):
    expected = _golden_rows(char)
    actual = parsed.get(char, {})
    assert set(actual) == set(expected), (
        f"{char}: ability sets differ; missing={set(expected)-set(actual)}, "
        f"extra={set(actual)-set(expected)}"
    )
    mismatches = {
        a: (actual[a], expected[a]) for a in expected if actual[a] != expected[a]
    }
    assert not mismatches, f"{char}: (actual, expected) mismatches: {mismatches}"


def test_corrections_split_and_overrides(spark):
    """Correction stage semantics (reference web_scraper.py:501-541):
    J1 override, J2 uncapped, J3 split with twin row."""
    from dffoo_data_pipeline_spark.fixtures import ability_line_rows
    from dffoo_data_pipeline_spark.plans.abilities import ability_pipeline
    from dffoo_data_pipeline_spark.schemas import ABILITY_HTML_LINES

    lines = spark.createDataFrame(ability_line_rows(), ABILITY_HTML_LINES)
    out = ability_pipeline(lines)
    rows = {
        (r["char_name"], r["ability_name"]): r
        for r in out.collect()
    }

    # J3 split: sherlotta Chuck Staff 4/4 → base 3/3 + twin 1/1 cap 900
    base = rows[("sherlotta", "Chuck Staff")]
    twin = rows[("sherlotta", "Chuck Staff (Uncapped HP Attack)")]
    assert (base["main_target_hp_attacks"], base["non_target_hp_attacks"]) == (3, 3)
    assert (twin["main_target_hp_attacks"], twin["non_target_hp_attacks"]) == (1, 1)
    assert twin["hp_dmg_cap_up_perc"] == 900
    assert twin["ability_id"] is None
    assert twin["attribute_list"][0] == "FollowUp"

    # J2 uncapped: aerith WMB → cap 900, 'Uncapped' prepended
    wmb = rows[("aerith", "Additional attack from White Materia's Brilliance")]
    assert wmb["hp_dmg_cap_up_perc"] == 900
    assert wmb["attribute_list"][0] == "Uncapped"

    # J3 also applies to Crystal Ray (4/4 → 3/3 + 1/1)
    cr = rows[("sherlotta", "Crystal Ray")]
    assert (cr["main_target_hp_attacks"], cr["non_target_hp_attacks"]) == (3, 3)


def test_fix_hp_cap_override(spark):
    """J1: FIX_HP_CAP_DICT replaces the parsed cap entirely."""
    from dffoo_data_pipeline_spark.fixtures import cap_block, mainN
    from dffoo_data_pipeline_spark.plans.abilities import ability_pipeline
    from dffoo_data_pipeline_spark.schemas import ABILITY_HTML_LINES

    fixture = {"barret": [("Beam", 999, [mainN(3), cap_block(50)])]}
    from dffoo_data_pipeline_spark.fixtures import ability_line_rows

    lines = spark.createDataFrame(ability_line_rows(fixture), ABILITY_HTML_LINES)
    row = ability_pipeline(lines).where(F.col("ability_name") == "Beam").collect()[0]
    assert row["hp_dmg_cap_up_perc"] == 10  # overridden from 50


def test_seymour_synthetic_row(spark):
    from dffoo_data_pipeline_spark.fixtures import ability_line_rows, main1
    from dffoo_data_pipeline_spark.plans.abilities import ability_pipeline
    from dffoo_data_pipeline_spark.schemas import ABILITY_HTML_LINES

    fixture = {"seymour": [("Firaga", 111, [main1()])]}
    lines = spark.createDataFrame(ability_line_rows(fixture), ABILITY_HTML_LINES)
    rows = {r["ability_name"]: r for r in ability_pipeline(lines).collect()}
    cs = rows["Chainspell - Follow Up"]
    assert (cs["main_target_hp_attacks"], cs["non_target_hp_attacks"]) == (4, 0)
    assert cs["hp_dmg_cap_up_perc"] == 20
    assert cs["ability_id"] is None
    assert cs["attribute_list"] == ["Magic", "FollowUp"]


@pytest.mark.reference
def test_pystr_serialization_matches_reference_csv(spark):
    """F9 parity: serializing the parsed attribute lists with pystr_list
    must reproduce the reference's raw_abilities.csv strings exactly
    (single-quote Python-str form, `[]` for empty) — checked by
    round-tripping every distinct attribute_list value in the actual
    reference CSV."""
    import ast

    from dffoo_data_pipeline_spark.plans.abilities import pystr_list

    with open(f"{DATASETS_DIR}/raw_abilities.csv") as f:
        csv_strings = sorted({r["attribute_list"] for r in csv.DictReader(f)})
    assert "['Melee']" in csv_strings and "[]" in csv_strings
    assert any(", " in s for s in csv_strings)  # multi-element form present

    parsed = [(s, ast.literal_eval(s)) for s in csv_strings]
    df = spark.createDataFrame(parsed, "expected string, attrs array<string>")
    out = df.select("expected", pystr_list("attrs").alias("got")).collect()
    bad = [(r.expected, r.got) for r in out if r.got != r.expected]
    assert not bad, bad


def test_attribute_extraction_first_seen_order(spark):
    """Reference attribute_list semantics (web_scraper.py:296-305): every
    `inline <Word>` icon except the HP/BREAK attack icons, first-seen
    order, deduplicated; flows into the pipeline via attrs_df."""
    from dffoo_data_pipeline_spark.plans.abilities import (
        ability_pipeline,
        extract_attributes,
    )
    from dffoo_data_pipeline_spark.schemas import ABILITY_HTML_LINES

    rows = []
    lines = [
        '<img class="inline Magic"> something',
        '<img alt="HP Attack Icon" class="inline HP">',
        "pad",
        "HP Attack on the target",
        '<img class="inline Ranged"> and <img class="inline Magic">',
        '<img class="inline BREAK">',
    ]
    for no, line in enumerate(lines):
        rows.append(("tester", "Spell", 9, "GL", no, line))
    df = spark.createDataFrame(rows, ABILITY_HTML_LINES)

    attrs = extract_attributes(df).collect()
    assert len(attrs) == 1
    assert attrs[0].attribute_list == ["Magic", "Ranged"]  # dedup, order kept

    out = {r.ability_name: r for r in ability_pipeline(df, extract_attributes(df)).collect()}
    assert out["Spell"].attribute_list == ["Magic", "Ranged"]
    assert out["Spell"].main_target_hp_attacks == 1
