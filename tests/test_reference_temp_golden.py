"""Goldens harvested from the reference's real-run outputs
(reference datasets/temp/{ability,bt_effect,ha_cap}_dfs/*.csv, 584 files;
VERDICT r1 fix #5).

The temp CSVs are post-correction per-character outputs of an actual
scrape; the raw_*.csv files are their stamped concatenations.  A handful
of temp files are stale (older 6-column schema, or values from a run that
predates raw_*.csv) — classification below uses pandas, an implementation
independent of the Spark path under test.  What these goldens exercise:

- S4/S8: one multi-file Spark CSV scan over 200+ real files with an
  explicit schema reproduces the reference's concatenated output exactly.
- P4: literal scrape stamps complete the raw_*.csv shape.
- typed parsing of the reference's real `[1, 2, 3]` int-list strings.
- J1/J2/J3 correction-dim parity against real rows for EVERY character,
  not just the 7 curated golden fixtures.
"""

from __future__ import annotations

import ast
import csv as _csv
import glob

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dffoo_data_pipeline_spark.plans.manual_tables import DATASETS_DIR as REF

pytestmark = pytest.mark.reference

_ABILITY_COLS = [
    "char_name", "ability_name", "ability_id", "main_target_hp_attacks",
    "non_target_hp_attacks", "hp_dmg_cap_up_perc", "attribute_list", "game_version",
]


def _consistent_files(sub: str, raw_name: str, cols: list[str]) -> tuple[list[str], set]:
    """Temp files with the modern schema whose rows all appear in raw_*."""
    raw = pd.read_csv(f"{REF}/{raw_name}", dtype=str, keep_default_na=False)
    core = {tuple(r) for r in raw[cols].itertuples(index=False)}
    good = []
    for f in sorted(glob.glob(f"{REF}/temp/{sub}/*.csv")):
        df = pd.read_csv(f, dtype=str, keep_default_na=False)
        if list(df.columns) == cols and {tuple(r) for r in df.itertuples(index=False)} <= core:
            good.append(f)
    return good, core


def _spark_rows(spark, paths, cols):
    schema = ", ".join(f"`{c}` string" for c in cols)
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(paths)  # ONE multi-file scan (S4), not a driver-side loop
        .withColumn("scrape_started_at_utc", F.lit("2023-09-09 11:56:19"))
        .withColumn("scrape_ended_at_utc", F.lit("2023-09-09 14:05:34"))
    )
    return sorted(tuple("" if v is None else v for v in r) for r in df.collect())


def _raw_rows(raw_name):
    with open(f"{REF}/{raw_name}") as f:
        return sorted(tuple(r.values()) for r in _csv.DictReader(f))


def test_ability_union_reproduces_raw_abilities(spark):
    good, _ = _consistent_files("ability_dfs", "raw_abilities.csv", _ABILITY_COLS)
    assert len(good) >= 200  # 212 of 221 files at harvest time
    assert any(f.endswith("_jp.csv") for f in good)  # JP variants included
    got = _spark_rows(spark, good, _ABILITY_COLS)
    want = _raw_rows("raw_abilities.csv")
    assert len(set(got)) == len(want)
    assert sorted(set(got)) == want


def test_ha_union_reproduces_raw_high_armor_caps(spark):
    cols = ["char_name", "personal_hp_dmg_cap_up", "party_ha_hp_dmg_cap_up", "game_version"]
    good, _ = _consistent_files("ha_cap_dfs", "raw_high_armor_caps.csv", cols)
    assert len(good) >= 170
    got = _spark_rows(spark, good, cols)
    want = _raw_rows("raw_high_armor_caps.csv")
    assert sorted(set(got)) == want


def test_bt_union_covered_by_raw_bt_effects(spark):
    cols = ["char_name", "bt_personal_hp_dmg_cap_up", "bt_party_hp_dmg_cap_up",
            "enemy_count_apply_list", "game_version"]
    good, core = _consistent_files("bt_effect_dfs", "raw_bt_effects.csv", cols)
    assert len(good) >= 130  # 137 of 146; 3 raw rows exist only in stale files
    got = _spark_rows(spark, good, cols)
    stamped = {t[:-2] for t in got}
    assert stamped <= core
    assert len(stamped) >= len(core) - 5


def test_bt_enemy_count_list_typed_roundtrip(spark):
    """Every real enemy_count_apply_list string parses to array<int> and
    re-serializes byte-identically (Python str-of-int-list form)."""
    vals = set()
    for f in glob.glob(f"{REF}/temp/bt_effect_dfs/*.csv") + [f"{REF}/raw_bt_effects.csv"]:
        with open(f) as fh:
            for r in _csv.DictReader(fh):
                if "enemy_count_apply_list" in r:
                    vals.add(r["enemy_count_apply_list"])
    # the real column is EITHER a Python int-list string OR a bare int
    # (lannreynn rows use scalar-per-row form, and those rows survive into
    # raw_bt_effects.csv) — readers of this column must accept both
    scalars = {v for v in vals if not v.startswith("[")}
    assert scalars and all(v.isdigit() and 1 <= int(v) <= 6 for v in scalars), scalars
    vals -= scalars
    assert vals
    df = spark.createDataFrame([(v,) for v in sorted(vals)], "s string")
    out = df.select(
        "s",
        F.from_json("s", "array<int>").alias("arr"),
    ).select(
        "s",
        "arr",
        F.concat(
            F.lit("["), F.array_join(F.col("arr").cast("array<string>"), ", "), F.lit("]")
        ).alias("rt"),
    ).collect()
    for r in out:
        assert r.arr is not None and r.rt == r.s, (r.s, r.arr, r.rt)
        assert all(1 <= e <= 6 for e in r.arr)


@pytest.fixture(scope="module")
def raw_abilities():
    with open(f"{REF}/raw_abilities.csv") as f:
        return list(_csv.DictReader(f))


def test_uncapped_split_dim_matches_real_rows(spark, raw_abilities):
    """J3: every split-dim ability has its cap-900 twin in the real output,
    with the dim's per-version counts."""
    from dffoo_data_pipeline_spark.plans.abilities import uncapped_split_dim

    rows = {(r["char_name"], r["ability_name"], r["game_version"]): r for r in raw_abilities}
    for d in uncapped_split_dim(spark).collect():
        twins = [r for (c, a, g), r in rows.items() if a == d.followup_name]
        assert twins, d.followup_name
        for t in twins:
            assert t["hp_dmg_cap_up_perc"] == "900"
            assert t["ability_id"] == ""
            want_main = d.gl_main if t["game_version"] == "GL" else d.jp_main
            want_non = d.gl_non if t["game_version"] == "GL" else d.jp_non
            assert int(t["main_target_hp_attacks"]) == want_main, t
            assert int(t["non_target_hp_attacks"]) == want_non, t


def test_uncapped_dim_matches_real_rows(spark, raw_abilities):
    """J2: every uncapped-dim member is cap 900 with 'Uncapped' first."""
    from dffoo_data_pipeline_spark.plans.abilities import uncapped_abilities_dim

    rows = {}
    for r in raw_abilities:
        rows.setdefault((r["char_name"], r["ability_name"]), []).append(r)
    for d in uncapped_abilities_dim(spark).collect():
        hits = rows.get((d.char_name, d.ability_name))
        assert hits, (d.char_name, d.ability_name)
        for t in hits:
            assert t["hp_dmg_cap_up_perc"] == "900", t
            assert ast.literal_eval(t["attribute_list"])[0] == "Uncapped", t


def test_fix_hp_cap_dim_matches_real_rows(spark, raw_abilities):
    """J1: every override value shows up verbatim in the real output."""
    from dffoo_data_pipeline_spark.plans.abilities import fix_hp_cap_dim

    rows = {}
    for r in raw_abilities:
        rows.setdefault((r["char_name"], r["ability_name"]), []).append(r)
    for d in fix_hp_cap_dim(spark).collect():
        hits = rows.get((d.char_name, d.ability_name))
        assert hits, (d.char_name, d.ability_name)
        for t in hits:
            assert t["hp_dmg_cap_up_perc"] == str(d.fixed_cap), t
