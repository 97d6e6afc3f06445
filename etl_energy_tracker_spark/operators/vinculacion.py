"""Vinculación monitoring loop — Spark rendering of the reference's
UPChangeMonitor (vinculacion/_vinculacion_monitoring.py:17-80) and the
93-day eligibility rule (vinculacion/vinculacion_main.py:43-55,
configs/vinculacion_config.get_linking_target_date).

The reference watches ``up_change_log`` for UPs enabled at least 93
days ago (market data needed for profile linking only consolidates
after ~3 months), runs a full linking round for the target date,
diffs the result against the stored UP↔UOF table, logs changes, and
records per-UP link outcomes so unmatched-but-eligible UPs retry on
the next daily run.

Spark-first shape — every step is a pure DataFrame program over the
change log / links / listado frames (no row loops, no driver-side
merge):

- eligibility: latest habilitada/obsoleta state per UP via max_by over
  one shuffle, date-window filter, broadcast anti-join against links
- change diff (reference ``_find_changes``): one full-outer join
- unlinked classification (``_filter_valid_unlinked_ups``): broadcast
  join to the listado obsoleta flag
- change log + link-table update (``_log_changes`` /
  ``_write_operations_to_db``): when-projections + unionByName
- outcome log: linked/retry/obsolete per eligible UP, the queue state
  the next run consumes

Scale notes: the change log is the only potentially large input
(append-only event stream); everything derived from it aggregates to
one row per UP before joining, and the links/listado dims are
broadcast-sized (entity dims, ~1e4 rows), so the whole loop is one
shuffle over the log plus broadcast joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ELIGIBILITY_WINDOW_DAYS = 93


def latest_up_state(change_log: DataFrame) -> DataFrame:
    """Last habilitada/obsoleta transition per UP from the append-only
    change log: (UP, state, state_date). Ties on date resolve
    obsoleta-wins (a UP enabled and obsoleted the same day is not
    eligible) — deterministic, engine-portable ordering."""
    ev = change_log.where(
        F.col("field_changed").isin("habilitada", "obsoleta")
    ).select(
        "UP",
        F.col("field_changed").alias("state"),
        F.to_date("date_updated").alias("state_date"),
    )
    # max_by over (date, obsoleta-wins flag): one shuffle, no window
    key = F.struct(
        F.col("state_date"),
        F.when(F.col("state") == "obsoleta", 1).otherwise(0).alias("rk"),
        F.col("state"),
    )
    return ev.groupBy("UP").agg(
        F.max_by("state", key).alias("state"),
        F.max("state_date").alias("state_date"),
    )


def eligible_ups(
    change_log: DataFrame,
    links: DataFrame,
    as_of: str,
) -> DataFrame:
    """The 93-day eligibility queue
    (_vinculacion_monitoring.py:17-22, vinculacion_config
    ``get_linking_target_date``): UPs whose latest state is
    'habilitada' with the enable date at least ``ELIGIBILITY_WINDOW_DAYS`` before
    ``as_of``, and that have no UP↔UOF link yet.

    Returns (UP, enabled_date, days_enabled) — the retry queue: a UP
    stays here until a linking round matches it or it goes obsolete.

    Only LIVE links (UOF not NULL) block eligibility: a retired link
    is stored as a UOF = NULL row, and a UP that was retired then
    re-habilitada must be able to re-enter the queue."""
    state = latest_up_state(change_log)
    enabled = state.where(F.col("state") == "habilitada").select(
        "UP", F.col("state_date").alias("enabled_date")
    )
    aged = enabled.where(
        F.col("enabled_date") <= F.date_sub(F.to_date(F.lit(as_of)), ELIGIBILITY_WINDOW_DAYS)
    ).withColumn(
        "days_enabled",
        F.datediff(F.to_date(F.lit(as_of)), F.col("enabled_date")).cast("int"),
    )
    live = links.where(F.col("UOF").isNotNull()).select("UP").distinct()
    return aged.join(F.broadcast(live), "UP", "left_anti")


def find_link_changes(
    current_links: DataFrame, new_matches: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Reference ``_find_changes`` (_vinculacion_monitoring.py:103-141):
    full-outer join current links (UP, uof_old) against the fresh
    linking round (UP, uof_new).

    Returns (all_changes, new_links):
    - all_changes: (UP, uof_old, uof_new) where uof_new = 'unknown'
      for UPs that dropped out of matching, plus genuine UOF moves
    - new_links: (UP, uof_new) for UPs matched for the first time

    Presence on each side of the full-outer join is tracked with
    explicit flag columns (the Spark rendering of the reference's
    pandas merge ``indicator`` left_only/right_only/both), NOT by
    uof_old/uof_new nullity: retired links are stored as UOF = NULL
    rows, so "uof_old IS NULL" conflates "UP absent from the links
    table" with "UP present but retired". A retired UP that stays
    unmatched produces no change row (its link is already NULL); a
    retired UP the matcher re-finds is a uof_change NULL -> new
    (eqNullSafe inequality), which re-activates the stored link.
    """
    cur = current_links.select(
        "UP", F.col("UOF").alias("uof_old"), F.lit(True).alias("_in_cur")
    )
    new = new_matches.select(
        "UP", F.col("UOF").alias("uof_new"), F.lit(True).alias("_in_new")
    )
    j = cur.join(new, "UP", "full_outer")
    in_cur = F.coalesce(F.col("_in_cur"), F.lit(False))
    in_new = F.coalesce(F.col("_in_new"), F.lit(False))

    new_links = j.where(~in_cur & in_new).select("UP", "uof_new")
    unlinked = j.where(
        in_cur & ~in_new & F.col("uof_old").isNotNull()
    ).select("UP", "uof_old", F.lit("unknown").alias("uof_new"))
    changed = j.where(
        in_cur & in_new & ~F.col("uof_old").eqNullSafe(F.col("uof_new"))
    ).select("UP", "uof_old", "uof_new")
    return changed.unionByName(unlinked), new_links


def classify_unlinked(all_changes: DataFrame, listado: DataFrame) -> DataFrame:
    """Reference ``_filter_valid_unlinked_ups``
    (_vinculacion_monitoring.py:143-183): UPs that lost their match
    split by the listado obsoleta flag — obsolete/invalid UPs get
    uof_new = NULL (their link is retired), still-active UPs keep
    uof_new = 'unknown' (algorithm-debug signal, not logged).

    Returns all_changes with a ``kind`` column ∈
    {'uof_change', 'obsolete', 'unknown'}."""
    flags = F.broadcast(
        listado.select("UP", F.col("obsoleta").alias("_obs"))
    )
    j = all_changes.join(flags, "UP", "left")
    kind = (
        F.when(F.col("uof_new") != "unknown", "uof_change")
        .when(F.coalesce(F.col("_obs"), F.lit(1)) == 1, "obsolete")
        .otherwise("unknown")
    )
    return j.withColumn("kind", kind).withColumn(
        "uof_new",
        F.when(F.col("kind") == "obsolete", F.lit(None).cast("string")).otherwise(
            F.col("uof_new")
        ),
    ).drop("_obs")


def vinculacion_change_log(
    classified: DataFrame, date_updated: str
) -> DataFrame:
    """Reference ``_log_changes`` (_vinculacion_monitoring.py:185-259):
    UOF moves log field_changed='UOF' (old → new); obsoletions log
    field_changed='obsoleta' (old → NULL). 'unknown' rows are
    deliberately NOT logged — the reference keeps them for debugging
    only (a healthy matcher should re-find every active UP)."""
    loggable = classified.where(F.col("kind").isin("uof_change", "obsolete"))
    return loggable.select(
        "UP",
        F.when(F.col("kind") == "uof_change", "UOF")
        .otherwise("obsoleta")
        .alias("field_changed"),
        F.col("uof_old").alias("old_value"),
        F.col("uof_new").alias("new_value"),
        F.lit(date_updated).alias("date_updated"),
    )


def apply_link_updates(
    current_links: DataFrame,
    classified: DataFrame,
    new_links: DataFrame,
    date_updated: str,
) -> DataFrame:
    """Reference ``_write_operations_to_db``
    (_vinculacion_monitoring.py:301-343): keyed update of moved /
    retired links plus append of first-time links — as a pure
    DataFrame so the caller overwrites the links table (the lake
    idiom; the reference's SQL UPDATE + INSERT against MySQL).
    'unknown' rows leave the stored link untouched."""
    updates = classified.where(
        F.col("kind").isin("uof_change", "obsolete")
    ).select("UP", F.col("uof_new").alias("UOF"))
    kept = current_links.join(
        F.broadcast(updates.select("UP")), "UP", "left_anti"
    ).select("UP", "UOF", "date_updated")
    stamped = F.lit(date_updated)
    return (
        kept.unionByName(updates.select("UP", "UOF", stamped.alias("date_updated")))
        .unionByName(
            new_links.select(
                "UP", F.col("uof_new").alias("UOF"), stamped.alias("date_updated")
            )
        )
    )


def link_outcome_log(
    eligible: DataFrame,
    matched: DataFrame,
    listado: DataFrame,
    date_updated: str,
) -> DataFrame:
    """Per-eligible-UP outcome record feeding the retry loop (the
    monitoring close-the-loop the reference runs daily,
    vinculacion_main.py:1): 'linked' when this round matched the UP,
    'obsolete' when the listado retired it while queued, 'retry'
    otherwise — the UP stays eligible and is retried next run."""
    got = F.broadcast(matched.select("UP").distinct().withColumn("_hit", F.lit(1)))
    obs = F.broadcast(
        listado.where(F.col("obsoleta") == 1).select("UP").withColumn("_obs", F.lit(1))
    )
    outcome = (
        F.when(F.col("_hit") == 1, "linked")
        .when(F.col("_obs") == 1, "obsolete")
        .otherwise("retry")
    )
    return (
        eligible.join(got, "UP", "left")
        .join(obs, "UP", "left")
        .select(
            "UP",
            "days_enabled",
            outcome.alias("outcome"),
            F.lit(date_updated).alias("date_updated"),
        )
    )


def monitor_links(
    change_log: DataFrame,
    current_links: DataFrame,
    new_matches: DataFrame,
    listado: DataFrame,
    as_of: str,
) -> dict[str, DataFrame]:
    """The full monitoring round (reference ``monitor_existing_links``,
    _vinculacion_monitoring.py:346-430): eligibility queue, change
    diff, classification, change log, updated links, outcome log.
    Returns the frames; the caller persists them (lake or JDBC)."""
    eligible = eligible_ups(change_log, current_links, as_of)
    changes, new_links = find_link_changes(current_links, new_matches)
    classified = classify_unlinked(changes, listado)
    return {
        "eligible": eligible,
        "changes": classified,
        "change_log": vinculacion_change_log(classified, as_of),
        "updated_links": apply_link_updates(
            current_links, classified, new_links, as_of
        ),
        "outcomes": link_outcome_log(eligible, new_matches, listado, as_of),
    }
