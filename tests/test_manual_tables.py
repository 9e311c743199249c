"""Manual-table queries (SURVEY.md §2a S8, both hand-maintained CSVs).

Pins the byte-real ingestion contracts for the two reference files —
followups_manual_entry.csv (latin-1, 15 cols) and
bt_special_effect_labeling.csv (trailing-comma header) — plus the
correction rules, the cap-tier library, and the cross-engine assumption
the followups oracle relies on (DuckDB 1.0 has no latin-1 read, so
ignore_errors=true drops exactly the non-ASCII rows; those rows must
never belong to fixture characters).
"""

from __future__ import annotations

import pytest

from dffoo_data_pipeline_spark.plans.manual_tables import (
    _BT_LABELING_CSV,
    _FOLLOWUPS_CSV,
    bt_labeling_corrections,
    load_bt_labeling,
    load_followups,
)

FIXTURE_CHARS = {
    "aerith",
    "astos",
    "auron",
    "lenna",
    "paine",
    "sherlotta",
    "warrioroflight",
}


def test_missing_csv_names_the_env_var(spark, tmp_path, monkeypatch):
    """Without the reference checkout the CSV-backed queries fail with an
    error that says how to point them at the files, not a JVM trace."""
    from dffoo_data_pipeline_spark.plans import manual_tables

    monkeypatch.setattr(manual_tables, "_BT_LABELING_CSV", str(tmp_path / "missing.csv"))
    with pytest.raises(FileNotFoundError, match="SPARK_GRAFT_REFERENCE_DATASETS"):
        bt_labeling_corrections(spark, "")


@pytest.mark.reference
def test_followups_real_file_staging(spark):
    f = load_followups(spark).cache()
    assert f.count() == 206  # every CSV record survives the latin-1 read
    types = {x.name: x.dataType.simpleString() for x in f.schema.fields}
    assert types["default"] == "boolean"
    assert types["attribute_list"] == "array<string>"
    assert types["scrape_started_at_utc"] == "timestamp"
    # latin-1 bytes decoded, not mangled or dropped
    assert f.filter(f.ability_name.contains("El Niño+")).count() == 1
    row = f.filter(f.ability_name == "Crystal Ray (Uncapped HP Attack)").first()
    assert row.attribute_list == ["FollowUp", "Group", "Magic", "NoFree"]
    assert row.hp_dmg_cap_up_perc == 900
    f.unpersist()


@pytest.mark.reference
def test_bt_labeling_real_file_staging(spark):
    b = load_bt_labeling(spark).cache()
    assert b.count() == 138
    # stringified list and bare scalar both become array<int>
    lr = {tuple(r.enemy_count_apply_list) for r in b.filter(b.char_name == "lannreynn").collect()}
    assert lr == {(1,), (2,), (3,)}
    assert b.filter(b.char_name == "weiss").first().enemy_count_apply_list == [1, 2, 3]
    # ''→NULL normalization on the free-text columns
    assert b.filter(b.issue_to_fix.isNotNull()).count() == 3
    assert (
        b.filter(b.special_effect_for_hp_dmg_cap_on_turn == "Max Damage Cap")
        .first()
        .char_name
        == "astos"
    )
    b.unpersist()


@pytest.mark.reference
def test_followups_oracle_drop_contract():
    """The DuckDB oracle reads the followups CSV with ignore_errors=true
    (no latin-1 support in DuckDB 1.0).  That is only sound while every
    non-ASCII row belongs to a character OUTSIDE the ability fixture —
    the registered query joins down to fixture characters, so both
    engines see identical effective inputs.  If the reference file ever
    grows a latin-1 byte on a fixture character, this fails before a
    driver round does."""
    with open(_FOLLOWUPS_CSV, "rb") as fh:
        bad_chars = {
            line.split(b",", 1)[0].decode("latin-1")
            for line in fh
            if any(byte > 0x7F for byte in line)
        }
    assert bad_chars and bad_chars.isdisjoint(FIXTURE_CHARS), bad_chars
    # and the BT labeling file stays pure ASCII (its oracle reads strict)
    with open(_BT_LABELING_CSV, "rb") as fh:
        assert all(max(line, default=0) <= 0x7F for line in fh)


@pytest.mark.reference
def test_bt_corrections_rules(spark):
    out = {
        (r.char_name, r.game_version): r
        for r in bt_labeling_corrections(spark, "").collect()
    }
    garnet = out[("garnet", "GL")]  # "party and personal are swapped"
    assert (garnet.personal_raw, garnet.party_raw) == (30, 0)
    assert (garnet.personal_fixed, garnet.party_fixed) == (0, 30)
    for name in ("rinoa", "aerith"):  # "... should be 20" (GL rows)
        row = out[(name, "GL")]
        assert row.party_raw == 0 and row.party_fixed == 20
        assert row.personal_fixed == row.personal_raw
        assert row.had_issue
    weiss = out[("weiss", "GL")]  # untouched row passes through
    assert not weiss.had_issue
    assert (weiss.personal_fixed, weiss.party_fixed) == (weiss.personal_raw, weiss.party_raw)
    assert weiss.special_effect == "10% Overall Damage Boost"


def test_effective_cap_tiers(spark):
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.caps import (
        effective_hp_dmg_cap,
        is_uncapped,
    )

    df = spark.createDataFrame(
        [(0,), (10,), (24,), (900,)], "cap int"
    ).select(
        "cap",
        effective_hp_dmg_cap("cap").alias("eff"),
        is_uncapped("cap").alias("unc"),
    )
    got = {r.cap: (r.eff, r.unc) for r in df.collect()}
    # base cap, +10% tier, odd tier, and the 900 sentinel landing exactly
    # on the uncapped ceiling (reference web_scraper.py:523)
    assert got == {
        0: (99_999, False),
        10: (109_999, False),
        24: (123_999, False),
        900: (999_999, True),
    }


@pytest.mark.reference
def test_enrichment_joins_are_broadcast(spark):
    from dffoo_data_pipeline_spark.plans.manual_tables import (
        abilities_followups_enriched,
    )

    plan = abilities_followups_enriched(spark, "")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["bt_labeling_corrections", "abilities_followups_enriched", "abilities_effective_cap"],
)
def test_registered_with_oracle(name):
    from dffoo_data_pipeline_spark.plans import all_queries

    q, o = all_queries()
    assert name in q and name in o
