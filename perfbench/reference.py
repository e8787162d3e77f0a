"""Output references for the benchmark, independent of the engine's merge.

``VaultSpec`` is a sequential, pure-Python simulator of the vault's
documented semantics (the spec simulator of the random differential test,
extended to the hub and link registries). It imports nothing from the
engine's merge, hub or storage modules. The one Spark expression it relies
on is the duplicate-fork tie rule, computed over the raw input:
highest ``seq``, then ``xxhash64`` of the remaining input columns in sorted
name order.

``domain_orders_current`` states the orders domain's current view in
closed form from its source tables.
"""

from __future__ import annotations

SEQ = "seq"


def tiebreak_frame(events):
    """Spark frame of the stream plus ``_tb``, the tie-rule hash."""
    from pyspark.sql import functions as F

    cols = sorted(c for c in events.columns if c != SEQ)
    return events.withColumn("_tb", F.xxhash64(*[F.col(c) for c in cols]))


def collect_events(events) -> dict[int, list[dict]]:
    """Input events with their tie hash, grouped by batch id."""
    rows = tiebreak_frame(events).select(
        "batch_id", SEQ, "_tb", "conv_id", "turn_idx", "role", "text", "tool", "op"
    ).toArrow().to_pylist()
    out: dict[int, list[dict]] = {}
    for e in rows:
        e["tb"] = e.pop("_tb")
        out.setdefault(e.pop("batch_id"), []).append(e)
    return out


class VaultSpec:
    """Hub (first batch per conversation), link (first batch per
    conversation/tool pair) and SCD2 satellite with head and history."""

    def __init__(self):
        self.hub: dict[str, int] = {}
        self.link: dict[tuple, int] = {}
        self.head: dict[tuple, dict] = {}
        self.hist: list[dict] = []

    def apply(self, batch_id: int, events: list[dict]) -> None:
        # registries take every upsert event, before dedup
        for e in events:
            if e["op"] == "D":
                continue
            self.hub.setdefault(e["conv_id"], batch_id)
            if e["tool"] is not None:
                self.link.setdefault((e["conv_id"], e["tool"]), batch_id)
        winners: dict[tuple, dict] = {}
        for e in events:
            k = (e["conv_id"], e["turn_idx"])
            w = winners.get(k)
            if w is None or (e["seq"], e["tb"]) > (w["seq"], w["tb"]):
                winners[k] = e
        for k, e in winners.items():
            row = self.head.get(k)
            if row is not None and e["seq"] < row["_seq"]:
                continue  # stale: older than what the key already applied
            content = (e["role"], e["text"], e["tool"])
            if e["op"] == "D":
                if row is not None and row["_active"]:
                    row.update(_active=False, _deleted_runid=batch_id, _seq=e["seq"])
                continue  # delete of an unknown or deleted key: no-op
            if row is not None and row["_active"] and row["content"] == content:
                row["_seq"] = max(row["_seq"], e["seq"])  # unchanged: bump seq
                continue
            if row is not None:
                self.hist.append(dict(row, _active=False))
            self.head[k] = {
                "conv_id": k[0], "turn_idx": k[1], "content": content,
                "_runid": batch_id, "_revision": row["_revision"] + 1 if row else 0,
                "_active": True, "_seq": e["seq"], "_deleted_runid": None,
            }

    # ----------------------------------------------------------- expected rows

    @staticmethod
    def sat_tuple(r: dict) -> tuple:
        role, text, tool = r["content"]
        return (r["conv_id"], r["turn_idx"], role, text, tool, r["_runid"],
                r["_revision"], r["_active"], r["_seq"], r["_deleted_runid"])

    def expected(self) -> dict[str, list]:
        return {
            "head": sorted(self.sat_tuple(r) for r in self.head.values()),
            "sat": sorted(self.sat_tuple(r) for r in self.hist + list(self.head.values())),
            "hub": sorted(self.hub.items()),
            "link": sorted((c, t, b) for (c, t), b in self.link.items()),
        }

    def current(self) -> list[tuple]:
        """Live turns in (conv_id, turn_idx) order, as current_turns shows them."""
        return [
            (r["conv_id"], r["turn_idx"]) + r["content"] + (r["_revision"], r["_runid"])
            for _, r in sorted(self.head.items()) if r["_active"]
        ]

    def conversation(self, conv_id: str) -> list[tuple]:
        return [t[1:6] for t in self.current() if t[0] == conv_id]


SAT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "_runid",
            "_revision", "_active", "_seq", "_deleted_runid"]


def vault_state(vault) -> dict[str, list]:
    """The engine's vault read back through its public table reads."""

    def rows(df, cols):
        return sorted(tuple(r.values()) for r in df.select(*cols).toArrow().to_pylist())

    return {
        "head": rows(vault.sat.head.read(), SAT_COLS),
        "sat": rows(vault.sat.read(), SAT_COLS),
        "hub": rows(vault.hub.read(), ["conv_id", "_runid"]),
        "link": rows(vault.link.read(), ["conv_id", "tool", "_runid"]),
    }


def diff_state(got: dict[str, list], want: dict[str, list]) -> list[str]:
    """Names of the tables whose rows differ, with a first differing row."""
    out = []
    for name in want:
        g, w = got[name], want[name]
        if g != w:
            first = next(((a, b) for a, b in zip(g, w) if a != b), None)
            out.append(f"{name}: engine {len(g)} rows, spec {len(w)} rows, first diff {first}")
    return out


# --------------------------------------------------------- orders domain


def domain_orders_current(customer: list[dict], orders: list[dict]) -> list[tuple]:
    """Rows of the ``domain_orders_current`` driver query after the orders
    domain's three-batch stream, from the two source tables: every order
    of a known customer, with orders whose key is a multiple of 5 revised
    once to status 'X', and the link type from the order priority."""
    segment = {c["c_custkey"]: c["c_mktsegment"] for c in customer}
    return sorted(
        (o["o_orderkey"],
         "X" if o["o_orderkey"] % 5 == 0 else o["o_orderstatus"],
         1 if o["o_orderkey"] % 5 == 0 else 0,
         "urgent" if o["o_orderpriority"].startswith("1-") else "normal",
         o["o_custkey"], segment[o["o_custkey"]])
        for o in orders if o["o_custkey"] in segment
    )
