"""Span tracing for the traced benchmark run.

``Tracer.install`` wraps a fixed list of the package's public functions.
It patches the defining module's attribute and every other loaded
module attribute that is bound to the same function object (a
``from x import f`` elsewhere in the package), plus the class attribute
for methods. Each call records a span (name, start, end, parent, pass
id) and runs under its own Spark job group, so ``statusTracker`` assigns
every job to the innermost span that started it.

Spans stay in memory; ``pass_metrics`` folds one pass into per-layer
numbers and ``dump`` writes every span out at the end.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time
from dataclasses import dataclass, field

PKG = "parquet_on_fhir_spark"

# (module, attribute path) of every traced function; the metric name is
# "<module without package prefix>.<attribute path>".
TRACED = [
    ("session", "get_session"),
    ("fhir.schema", "derive_schema"),
    ("fhir.validate", "check_or_raise"),
    ("fhir.annotations", "annotate"),
    ("fhir.encode", "write_table"),
    ("fhir.decode", "write_ndjson"),
    ("fhir.decode", "to_fhir_json"),
    ("fhir.table", "FhirTable.read"),
    ("fhir.table", "FhirTable.search"),
    ("fhir.table", "FhirTable.where_quantity"),
    ("fhir.store", "FhirStore.search"),
    ("fhir.views", "run_view"),
    ("api", "load_table"),
    ("operators.dedup", "near_dup_clusters"),
]


@dataclass
class Span:
    name: str
    kind: str  # "pass", "op", "phase" or "layer"
    parent: "Span | None"
    pass_id: int
    group: str
    start: float
    end: float = 0.0
    children: list = field(default_factory=list)
    jobs: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class Tracer:
    def __init__(self):
        self.enabled = False
        self.sc = None
        self.stack: list[Span] = []
        self.roots: list[Span] = []
        self.setup_spans: list[Span] = []
        self._n = 0

    # -- spans ------------------------------------------------------------
    def _group(self) -> str:
        self._n += 1
        return f"pb-{self._n}"

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def open(self, name: str, kind: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        pass_id = parent.pass_id if parent else len(self.roots)
        span = Span(name, kind, parent, pass_id, self._group(), time.perf_counter())
        if parent is not None:
            parent.children.append(span)
        elif kind == "pass":
            self.roots.append(span)
        else:
            self.setup_spans.append(span)
        self.stack.append(span)
        self._set_group(span.group)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self.stack.pop()
        self._set_group(self.stack[-1].group if self.stack else None)

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        """A span around benchmark code (a pass, an op, a phase)."""
        if not self.enabled:
            yield None
            return
        s = self.open(name, kind)
        try:
            yield s
        finally:
            self.close(s)

    # -- wrapping ---------------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer.open(name, "layer")
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        return traced

    def install(self) -> None:
        """Wrap every function in ``TRACED`` (modules must be imported
        first so that re-bound names can be found)."""
        for mod_name, attr in TRACED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            name = f"{mod_name}.{attr}"
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                raw = cls.__dict__[meth]
                if isinstance(raw, classmethod):
                    new = classmethod(self._wrap(name, raw.__func__))
                else:
                    new = self._wrap(name, raw)
                setattr(cls, meth, new)
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(name, orig)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith(PKG):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)

    # -- folding ----------------------------------------------------------
    def attribute_jobs(self, spans) -> None:
        """Fill ``span.jobs`` with the ids of the jobs each span started
        itself."""
        st = self.sc.statusTracker()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        for s in spans:
            s.jobs = sorted(st.getJobIdsForGroup(s.group))

    def job_counts(self, job_ids) -> dict:
        st = self.sc.statusTracker()
        stages = tasks = failed = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks + si.numFailedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {"stages": stages, "tasks": tasks, "failed_tasks": failed}

    def pass_metrics(self, root: Span) -> dict:
        """Per-layer numbers of one traced pass."""
        spans = list(root.walk())
        self.attribute_jobs(spans)
        m: dict[str, float] = {}

        def add(key, v):
            m[key] = m.get(key, 0) + v

        for s in spans:
            if s.kind == "layer":
                add(f"{s.name}.s", s.self_s)
                add(f"{s.name}.jobs", len(s.jobs))
            elif s.kind in ("op", "phase"):
                op = s if s.kind == "op" else s.parent
                add(f"{op.name}.s", s.self_s)
            if s.kind == "phase":
                inner = list(s.walk())
                add(f"suite.{s.name}_s", s.dur)
                add(f"suite.{s.name}_jobs", sum(len(x.jobs) for x in inner))
                add(f"{s.parent.name}.{s.name}_s", s.dur)
                add(f"{s.parent.name}.{s.name}_jobs", sum(len(x.jobs) for x in inner))
        all_jobs = sorted({j for s in spans for j in s.jobs})
        counts = self.job_counts(all_jobs)
        m["spark.jobs"] = len(all_jobs)
        m["spark.stages"] = counts["stages"]
        m["spark.tasks"] = counts["tasks"]
        m["spark.failed_tasks"] = counts["failed_tasks"]
        m["trace.untraced_s"] = root.self_s
        m["trace.pass_s"] = root.dur
        return m

    def dump(self, path: str) -> None:
        def row(s: Span) -> dict:
            return {
                "name": s.name,
                "kind": s.kind,
                "pass": s.pass_id,
                "parent": s.parent.group if s.parent else None,
                "id": s.group,
                "start": s.start,
                "end": s.end,
                "jobs": s.jobs,
            }

        with open(path, "w") as fh:
            for root in [*self.setup_spans, *self.roots]:
                for s in root.walk():
                    fh.write(json.dumps(row(s)) + "\n")
