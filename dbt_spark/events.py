"""Structured events: reference-named typed records → JSON lines + console.

Reference pattern: protobuf-typed log events emitted through a fire_event bus
(core/dbt/events/types.py — each event class carries a stable alphanumeric
``code()`` like ``Q025``; core/dbt/events/base_types.py wires them to
core_types_pb2). Spark-first mapping (SURVEY §2B row "Structured events"):
the same event NAMES and CODES, serialized as JSON lines in dbt's published
structured-log line shape::

    {"data": {...},
     "info": {"category": "", "code": "Q025", "extra": {}, "invocation_id":
              "...", "level": "debug", "msg": "...", "name": "NodeFinished",
              "pid": 123, "thread": "MainThread", "ts": "..."}}

so log consumers that key on ``info.name`` / ``info.code`` parse these lines
unchanged. As in the reference, the file log is JSON lines or text only.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable, Optional

# Registry of reference event types we emit: name -> (code, default level).
# Codes match core/dbt/events/types.py line-for-line (A=main, Q=node/run,
# W=stats, Z=summary). Names not in this table still fire (ad-hoc events are
# allowed) but get code "" — tests pin the registered subset.
EVENT_CODES: dict[str, tuple[str, str]] = {
    "MainReportVersion": ("A001", "info"),        # types.py:41
    "MainReportArgs": ("A002", "debug"),          # types.py:49
    "ResourceReport": ("E044", "debug"),
    "LogTestResult": ("Q007", "info"),            # types.py:1301 (DynamicLevel)
    "LogStartLine": ("Q011", "info"),             # types.py:1356
    "LogModelResult": ("Q012", "info"),           # types.py:1365 (DynamicLevel)
    "LogSnapshotResult": ("Q015", "info"),        # types.py:1393
    "LogSeedResult": ("Q016", "info"),            # types.py:1415
    "NodeStart": ("Q024", "debug"),               # types.py:1516
    "NodeFinished": ("Q025", "debug"),            # types.py:1524
    "ConcurrencyLine": ("Q027", "info"),          # types.py:1545
    "NodeCompiling": ("Q030", "debug"),           # types.py:1561
    "NodeExecuting": ("Q031", "debug"),           # types.py:1569
    "SkippingDetails": ("Q034", "info"),          # types.py:1614
    "NothingToDo": ("Q035", "warn"),              # types.py:1629
    "CommandCompleted": ("Q039", "debug"),        # types.py:1661
    "MicrobatchExecutionDebug": ("Q044", "debug"),  # types.py:1723
    "LogStartBatch": ("Q045", "info"),            # types.py:1731
    "LogBatchResult": ("Q046", "info"),           # types.py:1748 (Dynamic)
    "FoundStats": ("W006", "info"),               # types.py:1825
    "PackageRedirectDeprecation": ("D001", "warn"),  # types.py Deprecations
    "DeprecatedModel": ("I065", "warn"),          # types.py:234
    "UpcomingReferenceDeprecation": ("I066", "warn"),  # types.py:849
    "SpacesInResourceNameDeprecation": ("D014", "warn"),  # types.py:419
    "SourceFreshnessProjectHooksNotRun": ("D017", "warn"),  # types.py:459
    "MFTimespineWithoutYamlConfigurationDeprecation": ("D018", "warn"),  # types.py:469
    "MFCumulativeTypeParamsDeprecation": ("D019", "warn"),  # types.py:479
    "MicrobatchMacroOutsideOfBatchesDeprecation": ("D020", "warn"),  # types.py:490
    "DeprecatedReference": ("I067", "warn"),      # types.py:871
    "MicrobatchModelNoEventTimeInputs": ("I074", "warn"),  # types.py:957
    "InvalidConcurrentBatchesConfig": ("I075", "warn"),    # types.py:970
    "NoNodesForSelectionCriteria": ("M030", "warn"),   # types.py:1203
    "LogFreshnessResult": ("Q018", "info"),       # types.py:1439 (DynamicLevel)
    "RunResultWarning": ("Z021", "warn"),         # types.py:1935
    "StatsLine": ("Z023", "info"),                # types.py:1953
    "RunResultError": ("Z024", "error"),          # types.py:1964
    "EndOfRunSummary": ("Z030", "info"),          # types.py:2002
}

# Severity order for the --log-level-file filter; unknown levels rank as info.
_LEVEL_RANK = {"debug": 0, "info": 1, "warn": 2, "error": 3}

# Human message templates per event name (reference: each event class's
# message(); we keep the load-bearing fields, not the exact prose).
_MSG: dict[str, Callable[[dict[str, Any]], str]] = {
    "MainReportVersion": lambda d: f"Running with dbt_spark={d.get('version', '')}",
    "ConcurrencyLine": lambda d: (
        f"Concurrency: {d.get('num_threads', '')} threads "
        f"(target='{d.get('target_name', 'dev')}')"
    ),
    "NodeStart": lambda d: f"Began running node {d.get('node_id', '')}",
    "NodeFinished": lambda d: f"Finished running node {d.get('node_id', '')}",
    "LogStartLine": lambda d: f"START {d.get('node_id', '')}",
    "LogModelResult": lambda d: (
        f"{str(d.get('status', '')).upper()} created {d.get('node_id', '')} "
        f"in {d.get('execution_time', 0)}s"
    ),
    "LogTestResult": lambda d: (
        f"{str(d.get('status', '')).upper()} {d.get('node_id', '')} "
        f"({d.get('num_failures', 0)} failures)"
    ),
    "SkippingDetails": lambda d: f"SKIP {d.get('node_id', '')}",
    "NothingToDo": lambda d: (
        "Nothing to do. Try checking your model configs and model "
        "specification args"
    ),
    "PackageRedirectDeprecation": lambda d: (
        f"The `{d.get('old_name', '')}` package is deprecated in favor of "
        f"`{d.get('new_name', '')}`. Please update your `packages.yml` "
        "configuration to use `{}` instead.".format(d.get('new_name', ''))
    ),
    "FoundStats": lambda d: f"Found {d.get('stat_line', '')}",
    "DeprecatedModel": lambda d: (
        "Model {}{} has passed its deprecation date of {}. This model should "
        "be disabled or removed.".format(
            d.get("model_name", ""),
            ".v" + str(d["model_version"]) if d.get("model_version") else "",
            d.get("deprecation_date", ""),
        )
    ),
    "SpacesInResourceNameDeprecation": lambda d: (
        f"Found spaces in the name of `{d.get('unique_id')}`"
    ),
    "MicrobatchExecutionDebug": lambda d: d.get("msg", ""),
    "LogStartBatch": lambda d: (
        f"Batch START {d.get('description', '')} "
        f"[{d.get('batch_index', '')}/{d.get('total_batches', '')}] RUN"
    ),
    "LogBatchResult": lambda d: (
        "Batch {} {} [{}/{}] in {}s".format(
            "ERROR creating" if d.get("status") == "error" else "OK created",
            d.get("description", ""), d.get("batch_index", ""),
            d.get("total_batches", ""), d.get("execution_time", ""),
        )
    ),
    "MicrobatchModelNoEventTimeInputs": lambda d: (
        f"The microbatch model '{d.get('model_name', '')}' has no 'ref' or "
        "'source' input with an 'event_time' configuration. This means no "
        "filtering can be applied and can result in unexpected duplicate "
        "records in the resulting microbatch model."
    ),
    "InvalidConcurrentBatchesConfig": lambda d: (
        f"Found {d.get('num_models', 0)} microbatch model(s) with the "
        "`concurrent_batches` config set to true, but the model cannot run "
        "batches concurrently (it reads {{ this }} or is unpartitioned). "
        "Batches will be run sequentially."
    ),
    "SourceFreshnessProjectHooksNotRun": lambda d: (
        "In a future version of dbt, the `source freshness` command will "
        "start running `on-run-start` and `on-run-end` hooks by default "
        "(set flags: {source_freshness_run_project_hooks: true} to opt in)"
    ),
    "UpcomingReferenceDeprecation": lambda d: (
        "While compiling '{}': Found a reference to {}{}, which is slated "
        "for deprecation on '{}'.".format(
            d.get("model_name", ""),
            d.get("ref_model_name", ""),
            ".v" + str(d["ref_model_version"]) if d.get("ref_model_version") else "",
            d.get("ref_model_deprecation_date", ""),
        )
    ),
    "DeprecatedReference": lambda d: (
        "While compiling '{}': Found a reference to {}{}, which was "
        "deprecated on '{}'.".format(
            d.get("model_name", ""),
            d.get("ref_model_name", ""),
            ".v" + str(d["ref_model_version"]) if d.get("ref_model_version") else "",
            d.get("ref_model_deprecation_date", ""),
        )
    ),
    "NoNodesForSelectionCriteria": lambda d: (
        "The selection criterion '{}' does not match any enabled nodes".format(
            d.get("spec_raw", "")
        )
    ),
    "StatsLine": lambda d: (
        "Done. PASS={pass} WARN={warn} ERROR={error} SKIP={skip} TOTAL={total}"
        .format(**{k: d.get("stats", {}).get(k, 0)
                   for k in ("pass", "warn", "error", "skip", "total")})
    ),
    "EndOfRunSummary": lambda d: (
        f"Completed with {d.get('num_errors', 0)} errors and "
        f"{d.get('num_warnings', 0)} warnings"
    ),
    "CommandCompleted": lambda d: (
        f"Command `{d.get('command', '')}` completed "
        f"(success={d.get('success', '')})"
    ),
}


class WarnErrorOptions:
    """Granular warning promotion/suppression by event name.

    Reference: ``--warn-error-options`` (core/dbt/cli/params.py:749, parsed by
    WarnErrorOptionsType in core/dbt/cli/option_types.py:50 into
    dbt_common.helper_types.WarnErrorOptions) with the key normalization of
    core/dbt/config/utils.py:57 — ``error`` is the modern alias of
    ``include``, ``warn`` of ``exclude``; ``silence`` suppresses entirely.

    - ``includes(name)``: promote this warning to an error — true when
      (include == "all"/"*" or name listed) and name not excluded/silenced.
    - ``silenced(name)``: drop the warning entirely.
    - ``exclude`` is only meaningful against ``include == all`` (the
      reference's IncludeExclude validation); names are validated against the
      known event registry so typos fail loudly at the CLI boundary.
    """

    def __init__(
        self,
        include: "list[str] | str" = (),
        exclude: "list[str] | None" = None,
        silence: "list[str] | None" = None,
    ) -> None:
        self.include = include if isinstance(include, str) else list(include)
        self.exclude = list(exclude or [])
        self.silence = list(silence or [])
        include_all = isinstance(self.include, str) and self.include.lower() in (
            "all", "*",
        )
        if self.exclude and not include_all:
            raise ValueError(
                "`exclude` / `warn` is only valid when `include`/`error` is 'all'"
            )
        if isinstance(self.include, str) and not include_all:
            raise ValueError(
                f"include must be 'all', '*', or a list of event names, "
                f"got {self.include!r}"
            )
        for name in (
            ([] if isinstance(self.include, str) else self.include)
            + self.exclude
            + self.silence
        ):
            if name not in EVENT_CODES:
                raise ValueError(f"{name!r} is not a valid dbt event name")
        self._include_all = include_all

    @classmethod
    def parse(cls, raw: "str | dict") -> "WarnErrorOptions":
        """Parse the CLI's YAML/JSON string (or an already-loaded mapping,
        e.g. from dbt_project.yml `flags:`), normalizing the error/warn
        aliases exactly like core/dbt/config/utils.py:57 (both spellings set
        → error)."""
        import yaml

        d = raw if isinstance(raw, dict) else (yaml.safe_load(raw) or {})
        if not isinstance(d, dict):
            raise ValueError("--warn-error-options must be a YAML/JSON mapping")
        for primary, alt in (("include", "error"), ("exclude", "warn")):
            if primary in d and alt in d:
                raise ValueError(
                    f"warn_error_options: only one of {primary!r} / {alt!r} "
                    "may be set"
                )
            if alt in d:
                d[primary] = d.pop(alt)
        for key in ("include", "exclude", "silence"):
            if d.get(key) is None:
                d[key] = []
        unknown = set(d) - {"include", "exclude", "silence"}
        if unknown:
            raise ValueError(
                f"warn_error_options: unknown keys {sorted(unknown)}"
            )
        return cls(d["include"], d["exclude"], d["silence"])

    def includes(self, name: str) -> bool:
        listed = self._include_all or name in self.include
        return listed and name not in self.exclude and name not in self.silence

    def silenced(self, name: str) -> bool:
        return name in self.silence


class WarnErrorPromotion(Exception):
    """Raised when a warning event is promoted to an error by --warn-error /
    --warn-error-options (reference: EventCompilationError raised inside
    dbt_common.events.functions.warn_or_error)."""

    def __init__(self, event: "Event") -> None:
        self.event = event
        super().__init__(f"[{event.name}] {event.msg}")


@dataclass
class Event:
    name: str  # e.g. NodeStart, NodeFinished, MainReportVersion
    data: dict[str, Any] = field(default_factory=dict)
    level: str = "info"
    ts: str = ""
    invocation_id: str = ""
    code: str = ""
    msg: str = ""
    thread: str = ""

    def to_dict(self) -> dict[str, Any]:
        return {
            "data": self.data,
            "info": {
                "category": "",
                "code": self.code,
                "extra": {},
                "invocation_id": self.invocation_id,
                "level": self.level,
                "msg": self.msg,
                "name": self.name,
                "pid": os.getpid(),
                "thread": self.thread,
                "ts": self.ts,
            },
        }


class EventBus:
    """fire_event analog: thread-safe append to a JSONL file + callbacks."""

    def __init__(self, log_path: Optional[str] = None,
                 file_level: str = "debug",
                 file_format: str = "json",
                 max_bytes: int = 0) -> None:
        self.log_path = log_path
        # --log-level-file / DBT_LOG_LEVEL_FILE (reference cli/params.py
        # "--log-level-file"): events below this level skip the JSONL file
        # (callbacks/console are governed separately by --log-level)
        self.file_level = file_level
        # --log-format-file (cli/params.py:315): json = one JSON object per
        # line; text/debug = the human "ts [level] [thread] msg" line
        self.file_format = file_format if file_format != "default" else "json"
        # --log-file-max-bytes (cli/params.py:339, default 10 MB, 0 = no
        # limit): roll dbt.log -> dbt.log.1 before exceeding the cap
        self.max_bytes = int(max_bytes or 0)
        self.invocation_id = str(uuid.uuid4())
        # stamped once per invocation; artifacts carry it as
        # metadata.invocation_started_at (1.10, reference
        # artifacts/schemas/base.py:58-62 get_invocation_started_at)
        self.invocation_started_at = datetime.now(timezone.utc).isoformat()
        self.callbacks: list[Callable[[Event], None]] = []
        self._lock = threading.Lock()
        self._log_fh = None  # persistent JSONL handle (_write_log_line)
        if log_path:
            os.makedirs(os.path.dirname(log_path), exist_ok=True)

    def _write_log_line(self, line: str) -> None:
        """Append one line to the JSONL log through a PERSISTENT handle —
        open-per-event was measured at ~50 us x 6 events/node,
        a visible slice of the 2,000-model run. Flushed per line so
        ``tail -f`` and crash forensics behave like the open-per-append
        form; rotation (--log-file-max-bytes) tracks the size via the
        handle's own position instead of statting the file each event."""
        fh = self._log_fh
        if fh is None:
            fh = self._log_fh = open(self.log_path, "a")
            fh.seek(0, os.SEEK_END)  # make tell() the true size pre-write
        if self.max_bytes and fh.tell() + len(line) > self.max_bytes:
            fh.close()
            try:
                os.replace(self.log_path, self.log_path + ".1")
            except OSError:
                pass  # rotation failed: keep appending to the unrotated log
            fh = self._log_fh = open(self.log_path, "a")
        fh.write(line)
        fh.flush()

    def _event(self, name: str, level: Optional[str],
               data: dict[str, Any]) -> Event:
        code, default_level = EVENT_CODES.get(name, ("", "info"))
        render = _MSG.get(name)
        return Event(
            name=name,
            data=data,
            level=level or default_level,
            ts=datetime.now(timezone.utc).isoformat(),
            invocation_id=self.invocation_id,
            code=code,
            msg=render(data) if render else data.get("msg", ""),
            thread=threading.current_thread().name,
        )

    def fire(self, name: str, level: Optional[str] = None, **data: Any) -> Event:
        ev = self._event(name, level, data)
        to_file = (_LEVEL_RANK.get(ev.level, 1)
                   >= _LEVEL_RANK.get(self.file_level, 0))
        with self._lock:
            if self.log_path and to_file:
                # serialize only when the line is actually written — the
                # dumps cost is per-event and shows up at 2,000-model scale
                if self.file_format in ("text", "debug"):
                    line = (f"{ev.ts} [{ev.level:<5}] [{ev.thread}] "
                            f"{ev.msg or ev.name}\n")
                else:
                    line = json.dumps(ev.to_dict(), default=str) + "\n"
                self._write_log_line(line)
            for cb in self.callbacks:
                cb(ev)
        return ev

    def warn_or_error(
        self,
        name: str,
        warn_error: bool = False,
        options: Optional[WarnErrorOptions] = None,
        **data: Any,
    ) -> Optional[Event]:
        """dbt_common.events.functions.warn_or_error analog: silence wins,
        then --warn-error / an ``includes`` match raises WarnErrorPromotion,
        else the event fires at warn level."""
        opts = options or WarnErrorOptions()
        if opts.silenced(name):
            return None
        if warn_error or opts.includes(name):
            raise WarnErrorPromotion(self._event(name, "error", data))
        return self.fire(name, level="warn", **data)
