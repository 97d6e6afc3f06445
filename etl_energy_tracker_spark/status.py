"""Pipeline status tracking + failure routing — Spark-repo rendering
of the reference's scheduler glue (dags/helpers/pipeline_status.py:1,
pipeline_status_helpers.py:4-160, email_triggers.py:218-510).

The reference wires an Airflow DAG: a three-stage status object
(extract / transform / load, overall = AND), per-market load failures
folded into an error message, and success/failure HTML emails. Here
the same semantics are scheduler-agnostic and transport-agnostic:
``PipelineStatus`` aggregates the status dicts the ``jobs.py``
surfaces already return, and ``route_notification`` hands a rendered
payload to an injectable ``sender`` callable (SMTP, Slack, Airflow's
send_email — caller's choice), mirroring how extract sources inject
their fetchers. No HTML, no recipients-from-env, no network: those are
deploy concerns, not engine semantics.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

STAGES = ("extraction", "transformation", "loading")

Sender = Callable[[dict[str, Any]], None]


class PipelineStatus:
    """Three-stage ETL status tracker (pipeline_status.py:1-77):
    every stage starts failed; overall success requires all stages."""

    def __init__(self) -> None:
        self.stages: dict[str, dict[str, Any]] = {
            s: {"success": False, "details": {}} for s in STAGES
        }

    def set_stage(self, stage: str, success: bool, details: dict | None = None) -> None:
        if stage not in STAGES:
            raise KeyError(f"unknown stage {stage!r}; known: {STAGES}")
        self.stages[stage] = {"success": bool(success), "details": details or {}}

    # reference method names, kept for drop-in familiarity
    def set_extraction_status(self, success: bool, details: dict | None = None) -> None:
        self.set_stage("extraction", success, details)

    def set_transform_status(self, success: bool, details: dict | None = None) -> None:
        self.set_stage("transformation", success, details)

    def set_load_status(self, success: bool, details: dict | None = None) -> None:
        self.set_stage("loading", success, details)

    @property
    def overall_success(self) -> bool:
        return all(self.stages[s]["success"] for s in STAGES)

    def get_summary(self) -> dict[str, Any]:
        return {"overall_success": self.overall_success, **{
            s: self.stages[s] for s in STAGES
        }}


def failed_markets_message(load_status: dict[str, Any]) -> str | None:
    """The load-stage failure line (pipeline_status_helpers.py:129-160):
    names failed markets when per-market status exists, else a generic
    failure; None when the load succeeded."""
    if load_status.get("success", False):
        return None
    details = load_status.get("details", {}) or {}
    failed = details.get("markets_failed") or {}
    if failed:
        parts = ", ".join(f"{m}: {err}" for m, err in sorted(failed.items()))
        return f"load failed for markets — {parts}"
    err = details.get("error")
    return f"load failed — {err}" if err else "load failed"


def collect_status(
    extraction: dict[str, Any],
    transformation: dict[str, Any],
    loading: dict[str, Any],
) -> PipelineStatus:
    """Fold the three ``jobs.py``-shaped stage dicts
    ({'success': bool, 'details': {...}}) into one tracker
    (pipeline_status_helpers.py:94-145)."""
    ps = PipelineStatus()
    ps.set_extraction_status(
        extraction.get("success", False), extraction.get("details", {})
    )
    ps.set_transform_status(
        transformation.get("success", False), transformation.get("details", {})
    )
    ps.set_load_status(loading.get("success", False), loading.get("details", {}))
    return ps


def build_notification(
    summary: dict[str, Any], pipeline: str, run_date: str
) -> dict[str, Any]:
    """Render the success/failure payload the reference emails
    (email_triggers.py:218-357): subject line with outcome marker,
    per-stage status lines, the failed-markets message when the load
    stage carries one, and one error line per failed market or error of
    every other failed stage (a ``jobs.run_*`` status reports failures
    per market). Pure data — the sender renders/transports."""
    ok = summary["overall_success"]
    lines = [
        f"{s}: {'ok' if summary[s]['success'] else 'FAILED'}" for s in STAGES
    ]
    fail_msg = failed_markets_message(summary["loading"])
    if fail_msg:
        lines.append(fail_msg)
    for s in STAGES:
        if summary[s]["success"]:
            continue
        details = summary[s].get("details") or {}
        errors = [details["error"]] if details.get("error") else []
        if s != "loading":  # the load stage's markets are in fail_msg
            failed = details.get("markets_failed") or {}
            errors += [f"{m}: {err}" for m, err in sorted(failed.items())]
        lines += [f"{s} error: {err}" for err in errors]
    return {
        "severity": "success" if ok else "failure",
        "subject": f"{'Success' if ok else 'Failure'}: {pipeline} - {run_date}",
        "pipeline": pipeline,
        "run_date": run_date,
        "lines": lines,
        "summary": summary,
    }


def route_notification(
    summary: dict[str, Any],
    sender: Sender,
    pipeline: str,
    run_date: str,
    notify_on_success: bool = False,
) -> dict[str, Any] | None:
    """Failure routing (the DAG's on_failure_callback /
    on_success_callback pair): failures always notify; successes only
    when asked (the reference registers both callbacks, most deploys
    keep success emails off). Returns the payload that was sent, or
    None when routing decided to stay quiet."""
    payload = build_notification(summary, pipeline, run_date)
    if payload["severity"] == "failure" or notify_on_success:
        sender(payload)
        return payload
    return None
