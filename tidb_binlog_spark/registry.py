"""Node registry: the cluster-membership surface of the reference's
etcd registry (pkg/node/node.go, pkg/node/registry.go), file-backed.

State machine (pkg/node/node.go:61-75, pump/server.go:796-815,
binlogctl/nodes.go:59-83):

    online --pause--> pausing --(shutdown done)--> paused
    online --close--> closing --(shutdown done)--> offline
    paused --(restart)--> online

binlogctl's UpdateNodeState can force any of the five states directly
(nodes.go:75-80); ApplyAction sends pause/close to the node itself.
The registry is what the drainer's collector watches to build its
pump source list (drainer/collector.go:150-259): only online nodes
join the min-watermark merge (a callable ``sources`` list of a
streaming view, streaming/ivm.py, reads ``nodes_by_kind`` every
batch), and a paused or offline pump leaving the list is exactly the
"pause-world -> re-min" reconfiguration of merge.go:153-335.

Spark-fit: membership is driver-side control metadata (a handful of
rows), never per-row data — a JSON file with atomic replace is the
single-writer analog of the etcd keyspace.
"""

from __future__ import annotations

import json
import os
import time

ONLINE = "online"
PAUSING = "pausing"
PAUSED = "paused"
CLOSING = "closing"
OFFLINE = "offline"
STATES = (ONLINE, PAUSING, PAUSED, CLOSING, OFFLINE)

PUMP = "pump"
DRAINER = "drainer"

# action -> transitional state the node enters (pump/server.go:800-806)
_ACTIONS = {"pause": PAUSING, "close": CLOSING}
# transitional state -> terminal state after shutdown completes
# (pump/server.go:876-886)
_COMPLETIONS = {PAUSING: PAUSED, CLOSING: OFFLINE}


class NodeRegistry:
    """File-backed node registry with binlogctl's operations."""

    def __init__(self, path: str):
        self.path = path

    # -- storage ----------------------------------------------------
    def _load(self) -> dict:
        if not os.path.exists(self.path):
            return {"nodes": {}}
        with open(self.path) as f:
            return json.load(f)

    def _save(self, data: dict) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)

    # -- node lifecycle ---------------------------------------------
    def register(self, node_id: str, kind: str, source_dir: str | None = None,
                 max_commit_ts: int = 0) -> dict:
        """A node coming up (re)registers itself online — restart of a
        paused pump returns it to the source list."""
        if kind not in (PUMP, DRAINER):
            raise ValueError(f"kind {kind} is illegal")
        data = self._load()
        n = {"node_id": node_id, "kind": kind, "state": ONLINE,
             "source_dir": source_dir, "max_commit_ts": max_commit_ts,
             "update_ts": time.time()}
        data["nodes"][node_id] = n
        self._save(data)
        return n

    def update_state(self, node_id: str, state: str) -> dict:
        """binlogctl UpdateNodeState (nodes.go:59-83): force one of the
        five states directly."""
        if state not in STATES:
            raise ValueError(f"state {state} is illegal")
        data = self._load()
        n = data["nodes"].get(node_id)
        if n is None:
            raise LookupError(f"node not exist: {node_id}")
        n["state"] = state
        n["update_ts"] = time.time()
        self._save(data)
        return n

    def apply_action(self, node_id: str, action: str) -> dict:
        """binlogctl ApplyAction -> the node's /state handler
        (pump/server.go:796-815): pause -> pausing, close -> closing;
        anything else is rejected."""
        target = _ACTIONS.get(action)
        if target is None:
            raise ValueError(f"invalid action {action}")
        return self.update_state(node_id, target)

    def complete_shutdown(self, node_id: str) -> dict:
        """The node finished draining: pausing -> paused,
        closing -> offline (pump/server.go:876-886)."""
        data = self._load()
        n = data["nodes"].get(node_id)
        if n is None:
            raise LookupError(f"node not exist: {node_id}")
        n["state"] = _COMPLETIONS.get(n["state"], n["state"])
        n["update_ts"] = time.time()
        self._save(data)
        return n

    # -- queries -----------------------------------------------------
    def nodes_by_kind(self, kind: str, show_offline: bool = False) -> list[dict]:
        """binlogctl QueryNodesByKind (nodes.go:38-56): offline nodes
        hidden unless asked for."""
        out = []
        for n in self._load()["nodes"].values():
            if n["kind"] != kind:
                continue
            if n["state"] == OFFLINE and not show_offline:
                continue
            out.append(n)
        return sorted(out, key=lambda n: n["node_id"])
