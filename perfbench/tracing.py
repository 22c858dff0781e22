"""Per-layer numbers for the traced run, measured from outside the engine.

``Tracer.install`` wraps the public entry points of each layer (named after
the engine's modules) in every engine module that holds them. Each call
becomes a span with its own Spark job group, so the jobs it runs eagerly
(checkpoints, counts, escalation rounds) carry the span's id into Spark's
event log. ``fold`` reads that log back and gives every completed stage to
one bucket:

* a stage whose SQL plan nodes name a column only a layer's plans produce
  (``SIGNATURES``) belongs to that layer, if the layer was called in the
  same operation: this is how lazy work run by a later action, such as the
  cell join inside the operation's final hash, is found;
* else a stage run by a layer's own job group belongs to that layer;
* else a stage of the operation's final action belongs to the last layer
  the operation called directly. This is a guess; ``guessed_task_seconds``
  reports how much task time it placed;
* stages outside any traced operation (set-up, untraced passes, checks)
  go to ``untraced``.

``stage['by']`` records which rule placed the stage.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import statistics
import sys
import time

# layer -> (module, function) entry points wrapped in the traced run
LAYERS = {
    "donut": [("maskmypy_spark.operators.donut", "donut")],
    "distance_join": [("maskmypy_spark.operators.distance_join", "distance_join")],
    "knn": [
        ("maskmypy_spark.operators.knn", "nearest_neighbor"),
        ("maskmypy_spark.operators.knn", "knn_join"),
    ],
    "locationswap": [("maskmypy_spark.operators.locationswap", "locationswap")],
    "analysis": [
        ("maskmypy_spark.analysis", "k_anonymity_address"),
        ("maskmypy_spark.analysis", "k_satisfaction"),
    ],
    "dedup.lsh": [("maskmypy_spark.operators.dedup", "minhash_lsh_pairs")],
    "dedup.clusters": [("maskmypy_spark.operators.dedup", "dedup_clusters")],
}

# Columns only one layer's plans carry. The spatial layers share the cell
# key, so it resolves to whichever of them the operation called innermost.
SIGNATURES = {
    "distance_join": ("_cell#",),
    "knn": ("_cell#",),
    "dedup.lsh": ("shingle#", "_nb#"),  # the exact verify's shingles and sizes
}

JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
OP_PREFIX = "op."
MB = 1e6


class Tracer:
    """Spans in memory; one Spark job group per span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self):
        if self.stack:
            top = self.spans[self.stack[-1]]
            self.sc.setJobGroup(f"pb{top['id']}", top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "start": time.time() * 1000.0, "end": None,
        }
        self.spans.append(rec)
        self.stack.append(rec["id"])
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time() * 1000.0
            self.stack.pop()
            self._set_group()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Replace each entry point in every engine module that holds it:
        its own module and the modules that imported it by name."""
        engine = [m for k, m in sys.modules.items() if k.split(".")[0] == "maskmypy_spark"]
        for layer, entries in LAYERS.items():
            for mod, attr in entries:
                orig = getattr(importlib.import_module(mod), attr)
                wrapped = self._wrap(layer, orig)
                for m in engine:
                    for name, v in list(vars(m).items()):
                        if v is orig:
                            self._patched.append((m, name, orig))
                            setattr(m, name, wrapped)

    def uninstall(self) -> None:
        for m, name, orig in reversed(self._patched):
            setattr(m, name, orig)
        self._patched.clear()

    @contextlib.contextmanager
    def installed(self):
        self.install()
        try:
            yield self
        finally:
            self.uninstall()


# ---------------------------------------------------------------- fold ---

def read_events(log_dir: str) -> list[dict]:
    """Every event of the one application logged under ``log_dir`` (a
    rolling ``eventlog_v2_<app>/events_<n>_<app>`` log)."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    files.sort(key=lambda f: int(os.path.basename(f).split("_")[1]))
    out: list[dict] = []
    for f in files:
        with open(f) as fh:
            out.extend(json.loads(line) for line in fh if line.strip())
    return out


def _plan_nodes(info: dict, into: dict[int, tuple[str, str, str]]) -> None:
    """Map each SQL metric's accumulator id to (node name, node text,
    metric name), over the plan tree ``info``."""
    desc = f"{info['nodeName']} {info['simpleString']}"
    for m in info.get("metrics", ()):
        into[m["accumulatorId"]] = (info["nodeName"], desc, m["name"])
    for c in info.get("children", ()):
        _plan_nodes(c, into)


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _minus(intervals, cut) -> float:
    """Length of the union of ``intervals`` outside the union of ``cut``."""
    return _union(intervals) - _union(
        [(max(a, c), min(b, d)) for a, b in intervals for c, d in cut if max(a, c) < min(b, d)]
    )


def parse(events: list[dict]) -> dict:
    """Completed stages by id: job group, first job, wall, task run times,
    ``internal.metrics`` totals and the SQL plan nodes that updated a
    metric in the stage."""
    stages: dict[int, dict] = {}
    nodes: dict[int, tuple] = {}
    first_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            for sid in e["Stage IDs"]:
                first_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            props = e.get("Properties") or {}
            stages.setdefault(sid, {"tasks": []})["group"] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            stages.setdefault(e["Stage ID"], {"tasks": []})["tasks"].append(
                tm.get("Executor Run Time", 0)
            )
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            s = stages.setdefault(si["Stage ID"], {"tasks": []})
            s["start"], s["end"] = si["Submission Time"], si["Completion Time"]
            s["acc"] = {a["ID"]: a.get("Value") for a in si.get("Accumulables", ())}
            s["metric"] = {
                a["Name"]: float(a.get("Value") or 0)
                for a in si.get("Accumulables", ())
                if str(a.get("Name", "")).startswith("internal.metrics.")
            }
        elif "sparkPlanInfo" in e:
            _plan_nodes(e["sparkPlanInfo"], nodes)
    done = {k: v for k, v in stages.items() if "end" in v}
    for sid, s in done.items():
        s["job"] = first_job.get(sid)
        s["nodes"] = [(nodes[a], v) for a, v in s["acc"].items() if a in nodes]
        s["text"] = " ".join(sorted({n[1] for n, _ in s["nodes"]}))
    return done


def _op_of(spans, sid):
    while sid is not None and not spans[sid]["name"].startswith(OP_PREFIX):
        sid = spans[sid]["parent"]
    return sid


def attribute(stages: dict, spans: list[dict]) -> None:
    """Set ``stage['layer']``, ``stage['op']`` (the op span id or None) and
    ``stage['by']``: ``signature``, ``group``, ``guess`` or None (untraced)."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def called(root):  # layers under ``root``, innermost first
        out, todo = [], [(root, 0)]
        while todo:
            sid, depth = todo.pop()
            for c in children.get(sid, ()):
                out.append((depth + 1, spans[c]["start"], spans[c]["name"]))
                todo.append((c, depth + 1))
        return [name for _, _, name in sorted(out, reverse=True)]

    cache: dict[int, list[str]] = {}
    for s in stages.values():
        g = s.get("group") or ""
        sid = int(g[2:]) if g.startswith("pb") and g[2:].isdigit() else None
        op = _op_of(spans, sid) if sid is not None else None
        s["op"], s["by"] = op, None
        if op is None:
            s["layer"] = spans[sid]["name"] if sid is not None else "untraced"
            continue
        if op not in cache:
            cache[op] = called(op)
        layer = next(
            (name for name in cache[op]
             if any(sig in s["text"] for sig in SIGNATURES.get(name, ()))),
            None,
        )
        s["by"] = "signature"
        if layer is None and sid != op:
            layer, s["by"] = spans[sid]["name"], "group"
        if layer is None:
            top = [spans[c]["name"] for c in children.get(op, ())]
            layer, s["by"] = (top[-1] if top else "unattributed"), "guess"
        s["layer"] = layer


def _node_rows(stage: dict, node_names, *needles: str) -> list[float]:
    """"number of output rows" of each of the stage's plan nodes of the
    given kinds whose description contains every needle."""
    return [
        float(v or 0) for (name, desc, metric), v in stage["nodes"]
        if name in node_names and metric == "number of output rows"
        and all(n in desc for n in needles)
    ]


def _rows(stage: dict, node_names, *needles: str) -> float:
    return sum(_node_rows(stage, node_names, *needles))


def fold(stages: dict, spans: list[dict], n_passes: int) -> dict:
    """Per-layer metrics over the traced passes, each divided by
    ``n_passes`` so runs of different length compare."""
    traced = [s for s in stages.values() if s["op"] is not None]
    per = 1.0 / max(n_passes, 1)
    out: dict[str, float] = {}
    by_layer: dict[str, list[dict]] = {}
    for s in traced:
        by_layer.setdefault(s["layer"], []).append(s)
    nested: dict[str, set[str]] = {}
    for s in spans:
        p = s["parent"]
        while p is not None:
            nested.setdefault(spans[p]["name"], set()).add(s["name"])
            p = spans[p]["parent"]

    def layer_ivs(name):  # the layer's own calls and the stages it was given
        return [(s["start"], s["end"]) for s in spans if s["name"] == name] + [
            (s["start"], s["end"]) for s in by_layer.get(name, ())
        ]

    for name in LAYERS:
        st = by_layer.get(name, [])
        mine = layer_ivs(name)
        inner = [iv for c in nested.get(name, ()) if c != name for iv in layer_ivs(c)]
        longest = max(st, key=lambda s: s["end"] - s["start"], default=None)
        skew = 0.0
        if longest and longest["tasks"]:
            skew = max(longest["tasks"]) / max(statistics.median(longest["tasks"]), 1.0)
        out.update({
            f"{name}.call_s": _union(mine) / 1000.0 * per,
            f"{name}.self_s": _minus(mine, inner) / 1000.0 * per,
            f"{name}.jobs": len({s["job"] for s in st}) * per,
            f"{name}.task_s": sum(s["metric"].get("internal.metrics.executorRunTime", 0) for s in st) / 1000.0 * per,
            f"{name}.shuffle_write_mb": sum(_shuffle_bytes(s) for s in st) / MB * per,
            f"{name}.spill_mb": sum(_spill_bytes(s) for s in st) / MB * per,
            f"{name}.task_skew": skew,
        })
    dj = by_layer.get("distance_join", [])
    # probe rows: the ring explode's rows left after pruning (ring index _rgi)
    out["distance_join.probe_rows"] = sum(_rows(s, ("Filter",), "_rgi#") for s in dj) * per
    out["distance_join.pair_rows"] = sum(_rows(s, JOIN_NODES, "_cell#") for s in dj) * per
    lsh = by_layer.get("dedup.lsh", [])
    # the candidate distinct's final aggregate: the one not in a join stage
    cand = sum(
        _rows(s, ("HashAggregate",), "keys=[d1#", "functions=[]") for s in lsh
        if not any(j in s["text"] for j in JOIN_NODES)
    )
    # the verify's last join keeps pairs at or over the threshold; the two
    # branches of dedup_clusters' edge union each recompute it, so count one
    verified = sum(max(_node_rows(s, JOIN_NODES, "_nb#", " >= "), default=0.0) for s in lsh)
    out["dedup.lsh.candidate_pairs"] = cand * per
    out["dedup.lsh.verified_pairs"] = verified * per
    out["dedup.lsh.verify_yield"] = verified / cand if cand else 0.0
    return out


def _shuffle_bytes(s) -> float:
    return s["metric"].get("internal.metrics.shuffle.write.bytesWritten", 0.0)


def _spill_bytes(s) -> float:
    return s["metric"].get("internal.metrics.diskBytesSpilled", 0.0)


def spark_totals(stages: dict, pass_windows: list[tuple[float, float]], n_passes: int) -> dict:
    """Engine-wide numbers over the traced passes, per pass."""
    traced = [s for s in stages.values() if s["op"] is not None]
    per = 1.0 / max(n_passes, 1)
    wall = sum(b - a for a, b in pass_windows)
    busy = _union([(s["start"], s["end"]) for s in traced])
    m = lambda k: sum(s["metric"].get(k, 0.0) for s in traced)  # noqa: E731
    return {
        "spark.driver_s": (wall - busy) / 1000.0 * per,
        "spark.jobs": len({s["job"] for s in traced}) * per,
        "spark.gc_s": m("internal.metrics.jvmGCTime") / 1000.0 * per,
        "spark.shuffle_write_mb": sum(_shuffle_bytes(s) for s in traced) / MB * per,
        "spark.spill_mb": sum(_spill_bytes(s) for s in traced) / MB * per,
    }


def coverage(stages: dict, spans: list[dict]) -> dict[str, dict]:
    """Per operation, summed over its traced calls: its wall; each layer's
    stage wall inside it; ``driver_s``, the wall no stage covers;
    ``overlap_s``, the layers' stage walls that run at the same time, so
    that wall = driver_s + sum(layers) - overlap_s; ``uncovered_s``, the
    wall covered by neither a stage nor a layer call (driver-side work
    outside the layers' calls, such as planning the final action); and ``guessed_task_s``, the task time placed by the
    last-layer guess."""
    out: dict[str, dict] = {}
    for op in (s for s in spans if s["name"].startswith(OP_PREFIX)):
        st = [s for s in stages.values() if s["op"] == op["id"]]
        calls = [(s["start"], s["end"]) for s in spans if s["parent"] == op["id"]]
        rec = out.setdefault(op["name"][len(OP_PREFIX):], {
            "wall_s": 0.0, "driver_s": 0.0, "overlap_s": 0.0, "uncovered_s": 0.0,
            "guessed_task_s": 0.0, "layers": {},
        })
        ivs = [(s["start"], s["end"]) for s in st]
        wall = (op["end"] - op["start"]) / 1000.0
        busy = _union(ivs) / 1000.0
        layers = {}
        for layer in {s["layer"] for s in st}:
            layers[layer] = _union([(s["start"], s["end"]) for s in st if s["layer"] == layer]) / 1000.0
            rec["layers"][layer] = rec["layers"].get(layer, 0.0) + layers[layer]
        rec["wall_s"] += wall
        rec["driver_s"] += wall - busy
        rec["overlap_s"] += sum(layers.values()) - busy
        rec["uncovered_s"] += wall - _union(ivs + calls) / 1000.0
        rec["guessed_task_s"] += guessed_task_seconds(st)
    return out


def guessed_task_seconds(stages) -> float:
    """Task time of the given stages placed by the last-layer guess."""
    return sum(
        s["metric"].get("internal.metrics.executorRunTime", 0.0)
        for s in stages if s["by"] == "guess"
    ) / 1000.0


def task_seconds(stages: dict) -> dict[str, float]:
    """Task time of every bucket, over all stages of the run."""
    out: dict[str, float] = {}
    for s in stages.values():
        t = s["metric"].get("internal.metrics.executorRunTime", 0.0) / 1000.0
        out[s["layer"]] = out.get(s["layer"], 0.0) + t
    return out
