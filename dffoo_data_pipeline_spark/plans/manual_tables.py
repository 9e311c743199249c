"""Manual-table queries — the reference's hand-maintained CSV sources
joined into the ability pipeline (SURVEY.md §2a S8, both tables).

The reference keeps two curated CSVs beside the scraped data:

* ``followups_manual_entry.csv`` (206 rows, latin-1) — follow-up attacks
  that the wiki does not list as abilities, "used in Python" downstream
  (reference raw_sources.yml:97-171, stg_schema.yml);
* ``bt_special_effect_labeling.csv`` (138 rows) — per-character BT cap
  labels with free-text ``issue_to_fix`` correction notes that a curator
  applies to the raw BT table ("party and personal are swapped", "Party
  cap is 0, but should be 20").

Both are tiny dimension tables; every join below broadcasts them against
the (at 100 TB: large) parse output, so the enrichment adds zero shuffles
to the pipeline plan.  The oracle side reads THE SAME reference CSVs via
DuckDB ``read_csv`` — the driver hash-checks byte-real file ingestion, not
an embedded fixture.  (DuckDB 1.0 cannot read latin-1, so the followups
oracle uses ``ignore_errors=true``; the only rows dropped are mog/yuri
lines with latin-1 bytes, and every registered query here joins down to
the pure-ASCII fixture characters first, so both engines see identical
effective inputs — pinned by tests/test_manual_tables.py.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dffoo_data_pipeline_spark.functions.caps import (
    effective_hp_dmg_cap,
    is_uncapped,
)
from dffoo_data_pipeline_spark.plans.abilities import (
    _fixture_lines_df,
    ability_pipeline,
)
from dffoo_data_pipeline_spark.schemas import (
    BT_SPECIAL_EFFECT_LABELING_FILE,
    FOLLOWUPS_MANUAL_ENTRY_FILE,
)
from dffoo_data_pipeline_spark.sources.readers import (
    read_manual_entry_csv,
    stage_bt_labeling,
    stage_followups_file,
)

QUERIES: dict = {}
ORACLES: dict = {}

# The manual tables ship with the reference checkout; overridable so the
# same plans run against any staged copy of the two CSVs.
DATASETS_DIR = os.environ.get(
    "SPARK_GRAFT_REFERENCE_DATASETS", "/root/reference/datasets"
)
_FOLLOWUPS_CSV = f"{DATASETS_DIR}/followups_manual_entry.csv"
_BT_LABELING_CSV = f"{DATASETS_DIR}/bt_special_effect_labeling.csv"


def _require_csv(path: str) -> str:
    """`path`, or a FileNotFoundError naming the env var that locates it
    (instead of a JVM PATH_NOT_FOUND trace from the CSV scan)."""
    if not os.path.isfile(path):
        raise FileNotFoundError(
            f"manual-table CSV {path} not found: set SPARK_GRAFT_REFERENCE_DATASETS "
            "to the directory holding followups_manual_entry.csv and "
            "bt_special_effect_labeling.csv"
        )
    return path


def load_followups(spark: SparkSession) -> DataFrame:
    """Staged real followups_manual_entry.csv (latin-1, 15 columns)."""
    return stage_followups_file(
        read_manual_entry_csv(
            spark, _require_csv(_FOLLOWUPS_CSV), FOLLOWUPS_MANUAL_ENTRY_FILE
        )
    )


def load_bt_labeling(spark: SparkSession) -> DataFrame:
    """Staged real bt_special_effect_labeling.csv (trailing-comma layout)."""
    return stage_bt_labeling(
        read_manual_entry_csv(
            spark, _require_csv(_BT_LABELING_CSV), BT_SPECIAL_EFFECT_LABELING_FILE
        )
    )


# ---------------------------------------------------------------------------
# bt_labeling_corrections — apply the curator's issue_to_fix notes
# ---------------------------------------------------------------------------


def bt_labeling_corrections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The labeling table with its own ``issue_to_fix`` notes applied.

    Two note shapes exist in the shipped file and both are handled as
    general rules, not row lookups: any note containing "swap" exchanges
    the personal/party values; any note matching "should be <N>" pins the
    party cap to N (both shipped instances refer to the party column).
    Output keeps raw and fixed values side by side so the correction is
    auditable.  Pure projection — zero shuffles at any scale.
    """
    b = load_bt_labeling(spark)
    issue = F.col("issue_to_fix")
    swapped = F.lower(issue).contains("swap")
    should_be = F.regexp_extract(issue, r"should be (\d+)", 1)
    personal = F.col("bt_personal_hp_dmg_cap_up").cast("int")
    party = F.col("bt_party_hp_dmg_cap_up").cast("int")
    return b.select(
        "char_name",
        "game_version",
        F.size("enemy_count_apply_list").alias("n_enemy_counts"),
        personal.alias("personal_raw"),
        party.alias("party_raw"),
        F.when(swapped, party).otherwise(personal).alias("personal_fixed"),
        F.when(swapped, personal)
        .when(should_be != "", should_be.cast("int"))
        .otherwise(party)
        .alias("party_fixed"),
        F.coalesce("special_effect_for_hp_dmg_cap_on_turn", F.lit("")).alias(
            "special_effect"
        ),
        issue.isNotNull().alias("had_issue"),
    )


QUERIES["bt_labeling_corrections"] = bt_labeling_corrections
ORACLES["bt_labeling_corrections"] = f"""
WITH raw AS (
  SELECT * FROM read_csv('{_BT_LABELING_CSV}', header=true, all_varchar=true)
),
typed AS (
  SELECT char_name, game_version,
         CAST(bt_personal_hp_dmg_cap_up AS INT) AS personal_raw,
         CAST(bt_party_hp_dmg_cap_up AS INT) AS party_raw,
         len(regexp_extract_all(enemy_count_apply_list, '\\d+')) AS n_enemy_counts,
         NULLIF(TRIM(special_effect_for_hp_dmg_cap_on_turn), '') AS se,
         NULLIF(TRIM(issue_to_fix), '') AS issue
  FROM raw
)
SELECT char_name, game_version, n_enemy_counts, personal_raw, party_raw,
       CASE WHEN lower(issue) LIKE '%swap%' THEN party_raw ELSE personal_raw END
         AS personal_fixed,
       CASE WHEN lower(issue) LIKE '%swap%' THEN personal_raw
            WHEN COALESCE(regexp_extract(issue, 'should be (\\d+)', 1), '') <> ''
              THEN CAST(regexp_extract(issue, 'should be (\\d+)', 1) AS INT)
            ELSE party_raw END AS party_fixed,
       COALESCE(se, '') AS special_effect,
       (issue IS NOT NULL) AS had_issue
FROM typed
"""


# ---------------------------------------------------------------------------
# abilities_followups_enriched — manual followups joined onto the pipeline
# ---------------------------------------------------------------------------


def abilities_followups_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(character, version) hit totals with the manual followups added.

    The manual table supplements the scraped output: followup rows whose
    (char, ability, version) the pipeline ALREADY produced (the synthesized
    uncapped twins, e.g. sherlotta's) are removed with a left-anti join
    before aggregating, so nothing is double counted — exactly the
    enrichment the reference performs in Python (stg_schema.yml "used in
    Python").  Both manual frames are ≤206 rows → broadcast both joins;
    the only shuffle is the final per-character aggregate of the pipeline
    itself.
    """
    pipe = ability_pipeline(_fixture_lines_df(spark))
    base = pipe.groupBy("char_name", "game_version").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_abilities"),
        F.sum(F.col("main_target_hp_attacks").cast("bigint")).alias("base_main_hits"),
    )
    keys = ["char_name", "ability_name", "game_version"]
    manual = (
        load_followups(spark)
        .join(F.broadcast(pipe.select(*keys)), keys, "left_anti")
        .groupBy("char_name", "game_version")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_manual_followups"),
            F.sum(F.col("main_target_hp_attacks").cast("bigint")).alias(
                "manual_main_hits"
            ),
            F.max(F.col("hp_dmg_cap_up_perc") == 900).alias("has_uncapped_followup"),
        )
    )
    return (
        base.join(F.broadcast(manual), ["char_name", "game_version"], "left")
        .select(
            "char_name",
            "game_version",
            "n_abilities",
            "base_main_hits",
            F.coalesce("n_manual_followups", F.lit(0)).cast("bigint").alias(
                "n_manual_followups"
            ),
            F.coalesce("manual_main_hits", F.lit(0)).cast("bigint").alias(
                "manual_main_hits"
            ),
            (
                F.col("base_main_hits")
                + F.coalesce("manual_main_hits", F.lit(0)).cast("bigint")
            ).alias("total_main_hits"),
            F.coalesce("has_uncapped_followup", F.lit(False)).alias(
                "has_uncapped_followup"
            ),
        )
    )


def _followups_enriched_oracle() -> str:
    from dffoo_data_pipeline_spark.plans.abilities import ORACLES as _AB

    return f"""
WITH pipe AS ({_AB["abilities_full_pipeline"]}),
base AS (
  SELECT char_name, game_version,
         CAST(count(*) AS BIGINT) AS n_abilities,
         CAST(SUM(main_target_hp_attacks) AS BIGINT) AS base_main_hits
  FROM pipe GROUP BY char_name, game_version
),
manual AS (
  SELECT f.char_name, f.game_version,
         CAST(count(*) AS BIGINT) AS n_manual_followups,
         CAST(SUM(CAST(f.main_target_hp_attacks AS INT)) AS BIGINT) AS manual_main_hits,
         bool_or(CAST(f.hp_dmg_cap_up_perc AS INT) = 900) AS has_uncapped_followup
  FROM read_csv('{_FOLLOWUPS_CSV}', header=true, all_varchar=true,
                ignore_errors=true) f
  WHERE NOT EXISTS (
    SELECT 1 FROM pipe p
    WHERE p.char_name = f.char_name AND p.ability_name = f.ability_name
      AND p.game_version = f.game_version)
  GROUP BY f.char_name, f.game_version
)
SELECT b.char_name, b.game_version, b.n_abilities, b.base_main_hits,
       COALESCE(m.n_manual_followups, 0) AS n_manual_followups,
       COALESCE(m.manual_main_hits, 0) AS manual_main_hits,
       b.base_main_hits + COALESCE(m.manual_main_hits, 0) AS total_main_hits,
       COALESCE(m.has_uncapped_followup, FALSE) AS has_uncapped_followup
FROM base b
LEFT JOIN manual m ON b.char_name = m.char_name AND b.game_version = m.game_version
"""


QUERIES["abilities_followups_enriched"] = abilities_followups_enriched
ORACLES["abilities_followups_enriched"] = _followups_enriched_oracle()


# ---------------------------------------------------------------------------
# abilities_effective_cap — the cap-tier library over the pipeline output
# ---------------------------------------------------------------------------


def abilities_effective_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every pipeline ability with its effective damage ceiling
    (functions/caps.py: 99,999 + 1,000·cap_up, 900-sentinel → 999,999) —
    the reference's core semantic surfaced as a first-class query instead
    of staying implicit inside the parse (web_scraper.py:523,537).
    Projection over the pipeline output — adds nothing to its plan.
    """
    pipe = ability_pipeline(_fixture_lines_df(spark))
    return pipe.select(
        "char_name",
        "ability_name",
        "game_version",
        F.col("hp_dmg_cap_up_perc").cast("int").alias("hp_dmg_cap_up_perc"),
        effective_hp_dmg_cap("hp_dmg_cap_up_perc").alias("effective_cap"),
        is_uncapped("hp_dmg_cap_up_perc").alias("uncapped"),
    )


def _effective_cap_oracle() -> str:
    from dffoo_data_pipeline_spark.plans.abilities import ORACLES as _AB

    return f"""
SELECT char_name, ability_name, game_version,
       CAST(hp_dmg_cap_up_perc AS INT) AS hp_dmg_cap_up_perc,
       99999 + 1000 * CAST(hp_dmg_cap_up_perc AS INT) AS effective_cap,
       (hp_dmg_cap_up_perc = 900) AS uncapped
FROM ({_AB["abilities_full_pipeline"]}) p
"""


QUERIES["abilities_effective_cap"] = abilities_effective_cap
ORACLES["abilities_effective_cap"] = _effective_cap_oracle()
