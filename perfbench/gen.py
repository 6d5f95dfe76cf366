"""Seeded synthetic cloud graph for the sync benchmark.

``states`` writes, under ``out``, everything a benchmark run needs and
nothing the program computes:

* ``model.json``        the exported kind model (``Model.from_json`` shape)
* ``plan.json``         the query mix and the two search strings
* ``state-NNNN.ndjson`` the live graph after generation N (state 0 is
  the base graph; full re-syncs and searches read these)
* ``delta-NNNN.ndjson`` generation N as a delta: changed and new nodes
  with their complete outbound edge sets, plus ``deleted`` tombstones

and, per state, the expected published tables (row count +
order-independent checksum), the expected search results and the doc
counts.  ``states`` advances one generation each time it is resumed;
only the current state's files are kept.

The kind model has two levels of inheritance under ``resource``
(family kinds, then concrete table kinds), a base-property clash
(``size`` is int32 on the families and int64 on ``resource``; the base
wins, and values exceed the int32 range), ``runtime_kind`` scalars,
mixed property types, carz ancestors, nodes of kinds that get no
table (the carz kinds and ``bench_internal``), non-``default`` edges,
dangling edges and docs with no ``type``.  The planted defects stay in
the data: the expected tables drop them the way the reference's
pipeline does, and the per-layer trace counts them.

The expectation side is an independent pure-Python re-statement of
the flatten semantics (reference schema_utils.py:39-63, sql.py:227-243,
collect_plugins.py:50-62), not a call into the package.

``check.py`` runs the generator in the benchmark's child process.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
from dataclasses import dataclass
from datetime import datetime, timezone

CARZ = ("cloud", "account", "region", "zone")
BASE_KINDS = frozenset(
    {"resource", "graph_root", "cloud", "account", "region", "zone", "phantom_resource"}
)
EPOCH_2024 = 1704067200
FAMILIES = 2  # the middle level of the kind hierarchy


# Per-generation and planted-defect rates, the same for every workload:
# the share of live resource nodes a delta generation re-ships
# (CHANGE), adds (NEW) and tombstones (DELETED); the share of re-shipped
# nodes that change kind; internal nodes per resource node; dangling,
# non-default and per-edge shares; docs with no ``type`` per node.
CHANGE = 0.01
NEW = 0.003
DELETED = 0.002
KIND_CHANGE = 0.05
INTERNAL = 0.02
DANGLING = 0.01
OTHER_EDGES = 0.05
UNTYPED = 0.002


@dataclass(frozen=True)
class Profile:
    """Graph shape.  ``pairs`` is the number of (from kind, to kind)
    pairs that carry default edges between table kinds; ``edges`` the
    number of such edges."""

    kinds: int
    nodes: int
    pairs: int
    edges: int
    accounts: int
    regions: int


# Why each shape exists is in perfbench/README.md.
PROFILES = {
    "sync_wide": Profile(
        kinds=2, nodes=600, pairs=1, edges=800,
        accounts=3, regions=4,
    ),
    "sync_tall": Profile(
        kinds=2, nodes=5000, pairs=1, edges=10000,
        accounts=2, regions=3,
    ),
}

# Property pool for concrete kinds: (name stem, kind).  Every compiler
# branch the flatten exercises appears: int32/int64/double/boolean,
# datetime, dictionary[..], arrays and a runtime_kind refinement.
PROP_POOL = (
    ("cores", "int32"),
    ("memory", "int64"),
    ("price", "double"),
    ("public", "boolean"),
    ("mtime", "datetime"),
    ("limits", "dictionary[string, int64]"),
    ("zones_used", "string[]"),
    ("ports", "int64[]"),
    ("volume_gb", "bench_size_gb"),
    ("status", "bench_status"),
)
STATUSES = ("running", "stopped", "pending", "terminated")
ENVS = ("prod", "dev", "test")


# --- kind model -------------------------------------------------------------


def _prop(name: str, kind: str) -> dict:
    return {"name": name, "kind": kind, "required": False}


def build_model(p: Profile) -> list[dict]:
    """Exported kind-model JSON: scalars, runtime_kind refinements,
    ``resource`` -> families -> concrete kinds, carz and internal kinds."""
    kinds: list[dict] = [
        {"fqn": s, "runtime_kind": None}
        for s in ("string", "int32", "int64", "double", "boolean", "datetime")
    ]
    kinds += [
        {"fqn": "bench_status", "runtime_kind": "string"},
        {"fqn": "bench_size_gb", "runtime_kind": "int64"},
        {
            "fqn": "resource",
            "bases": [],
            "aggregate_root": True,
            "properties": [
                _prop("id", "string"),
                _prop("name", "string"),
                _prop("ctime", "datetime"),
                _prop("tags", "dictionary[string, string]"),
                _prop("size", "int64"),
            ],
        },
    ]
    kinds += [
        {"fqn": c, "bases": ["resource"], "aggregate_root": True, "properties": []}
        for c in CARZ
    ]
    kinds.append(
        {
            "fqn": "bench_internal",
            "bases": ["resource"],
            "aggregate_root": False,
            "properties": [_prop("owner", "string")],
        }
    )
    for f in range(FAMILIES):
        kinds.append(
            {
                "fqn": f"bench_family_{f}",
                "bases": ["resource"],
                "aggregate_root": False,
                # ``size`` clashes with resource.size (int64): base wins
                "properties": [
                    _prop("size", "int32"),
                    _prop(f"cost_{f}", "double"),
                    _prop("state", "bench_status"),
                ],
            }
        )
    for i in range(p.kinds):
        # a fixed layout: kind i owns five consecutive pool entries, so
        # two kinds cover every property type and seeds vary only values
        own = [PROP_POOL[(5 * i + j) % len(PROP_POOL)] for j in range(5)]
        kinds.append(
            {
                "fqn": f"bench_kind_{i:02d}",
                "bases": [f"bench_family_{i % FAMILIES}"],
                "aggregate_root": True,
                "properties": [_prop(n, k) for n, k in own],
            }
        )
    return kinds


class KindModel:
    """Pure-Python restatement of the table schema rules."""

    def __init__(self, kinds: list[dict]):
        self.kinds = {k["fqn"]: k for k in kinds}

    def bases_closure(self, fqn: str) -> set[str]:
        seen: set[str] = set()
        stack = [fqn]
        while stack:
            cur = stack.pop()
            if cur in seen:
                continue
            seen.add(cur)
            stack.extend((self.kinds.get(cur) or {}).get("bases") or [])
        return seen

    def props(self, fqn: str) -> dict[str, str]:
        """name -> property kind after inheritance (base wins a clash)."""
        out: dict[str, str] = {}
        for p in self.kinds[fqn].get("properties") or []:
            out[p["name"]] = p["kind"]
        for b in self.kinds[fqn].get("bases") or []:
            out.update(self.props(b))
        return out

    def resolve(self, kind: str) -> str:
        """Property kind -> the scalar/container spelling it stores as."""
        k = self.kinds.get(kind)
        if k is not None and k.get("runtime_kind"):
            return self.resolve(k["runtime_kind"])
        return kind

    def table_kinds(self) -> list[str]:
        return [
            k["fqn"]
            for k in self.kinds.values()
            if k.get("aggregate_root")
            and not k.get("runtime_kind")
            and k["fqn"] not in BASE_KINDS
        ]

    def columns(self, fqn: str) -> dict[str, str]:
        cols = {"_id": "string"}
        cols.update({n: self.resolve(k) for n, k in self.props(fqn).items()})
        cols.update({c: "string" for c in CARZ})
        return cols


def table_name(kind: str) -> str:
    return kind.replace(".", "_")


def link_name(a: str, b: str) -> str:
    return f"link_{table_name(a)[:25]}_{table_name(b)[:25]}"


# --- values -----------------------------------------------------------------


def _iso(ts: int) -> str:
    return datetime.fromtimestamp(ts, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def make_value(kind: str, rng: random.Random):
    if kind == "int32":
        return rng.randint(0, 100_000)
    if kind in ("int64", "bench_size_gb"):
        return rng.randint(0, 1 << 40)
    if kind == "double":
        return rng.random() * 1000.0
    if kind == "boolean":
        return rng.random() < 0.5
    if kind == "datetime":
        return _iso(EPOCH_2024 + rng.randint(0, 3 * 10**7))
    if kind == "dictionary[string, int64]":
        return {f"k{j}": rng.randint(0, 999) for j in range(rng.randint(0, 3))}
    if kind == "dictionary[string, string]":
        return {"env": rng.choice(ENVS), "team": f"t{rng.randint(0, 9)}"}
    if kind == "string[]":
        return [f"z{rng.randint(0, 5)}" for _ in range(rng.randint(0, 3))]
    if kind == "int64[]":
        return [rng.randint(1, 65535) for _ in range(rng.randint(0, 3))]
    if kind == "bench_status":
        return rng.choice(STATUSES)
    return f"s{rng.randint(0, 10**6)}"


def canon(kind: str, v):
    """Value as the published table must hold it, in the checksum's
    canonical form (datetimes as epoch microseconds, maps as sorted
    pairs, arrays as tuples)."""
    if v is None:
        return None
    if kind == "datetime":
        return int(datetime.strptime(v, "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=timezone.utc).timestamp()) * 1_000_000
    if kind.startswith("dictionary["):
        return tuple(sorted(v.items()))
    if kind.endswith("[]"):
        return tuple(v)
    return v


def row_hash(row: tuple) -> int:
    return int.from_bytes(
        hashlib.blake2b(repr(row).encode(), digest_size=8).digest(), "little"
    )


def checksum(rows) -> list[int]:
    """[row count, sum of row hashes mod 2**64] — order independent."""
    n = s = 0
    for r in rows:
        n += 1
        s += row_hash(r)
    return [n, s % (1 << 64)]


# --- the live graph ---------------------------------------------------------


class Graph:
    """Live graph: node docs by id plus each node's outbound edges
    (target id, edge type); ``docs`` renders it as NDJSON docs."""

    def __init__(self, p: Profile, rng: random.Random):
        self.p = p
        self.rng = rng
        self.model_json = build_model(p)
        self.model = KindModel(self.model_json)
        self.concrete = [f"bench_kind_{i:02d}" for i in range(p.kinds)]
        self.nodes: dict[str, dict] = {}
        self.out: dict[str, list[tuple[str, str]]] = {}
        self.inc: dict[str, set[str]] = {}  # target id -> source ids
        self.by_kind: dict[str, list[str]] = {}
        self.seq = 0
        self.ghost = 0
        self._carz()
        # kind pairs carrying default edges between table kinds: a ring,
        # then chords, so the table count does not depend on the seed
        n = len(self.concrete)
        self.pairs = [(self.concrete[i % n], self.concrete[(i + 1 + i // n) % n])
                      for i in range(p.pairs)]
        self.targets: dict[str, list[str]] = {}
        for a, b in self.pairs:
            self.targets.setdefault(a, []).append(b)
        # a skewed kind population: the first kinds are the big ones
        weights = [1.0 / (1 + i) ** 0.7 for i in range(p.kinds)]
        cum = [sum(weights[: i + 1]) for i in range(p.kinds)]
        for _ in range(p.nodes):
            k = self.concrete[bisect.bisect(cum, rng.random() * cum[-1])]
            self.add_node(k)
        for _ in range(max(1, int(p.nodes * INTERNAL))):
            self.add_node("bench_internal")
        self._base_edges()
        self.untyped = [self._node_doc(self._new_id("untyped"), self.concrete[0])
                        for _ in range(max(1, int(p.nodes * UNTYPED)))]

    def _new_id(self, prefix: str) -> str:
        self.seq += 1
        return f"{prefix}-{self.seq:07d}"

    def _carz(self) -> None:
        p = self.p
        self.zones: list[tuple[str, str, str, str | None]] = []
        cloud = "cloud-bench"
        self._put(cloud, "cloud", {"cloud": None})
        for a in range(p.accounts):
            acc = f"acct-{a}"
            self._put(acc, "account", {"cloud": cloud})
            for r in range(p.regions):
                reg = f"{acc}-reg-{r}"
                self._put(reg, "region", {"cloud": cloud, "account": acc})
                self._link(acc, reg, "delete")
                self.zones.append((cloud, acc, reg, None))
                for z in range(2):
                    zone = f"{reg}-z{z}"
                    self._put(zone, "zone", {"cloud": cloud, "account": acc,
                                             "region": reg})
                    self.zones.append((cloud, acc, reg, zone))

    def _put(self, nid: str, kind: str, anc: dict) -> None:
        self.nodes[nid] = {
            "type": "node",
            "id": nid,
            "reported": {"kind": kind, "id": nid, "name": nid},
            "ancestors": {c: {"reported": {"id": v}} for c, v in anc.items() if v},
        }
        self.out[nid] = []
        self.by_kind.setdefault(kind, []).append(nid)

    def _link(self, src: str, dst: str, etype: str) -> None:
        self.out[src].append((dst, etype))
        self.inc.setdefault(dst, set()).add(src)

    def _unlink(self, src: str, edge: tuple[str, str]) -> None:
        self.out[src].remove(edge)
        if not any(d == edge[0] for d, _ in self.out[src]):
            self.inc[edge[0]].discard(src)

    def _node_doc(self, nid: str, kind: str) -> dict:
        rng = self.rng
        rep: dict = {"kind": kind, "id": nid, "name": f"{kind}-{nid}"}
        for name, pk in self.model.props(kind).items():
            if name in ("id", "name"):
                continue
            if rng.random() < 0.1:
                continue  # missing property -> typed NULL
            if name == "size":
                rep[name] = rng.randint(1 << 31, 1 << 40)  # needs int64
            else:
                rep[name] = make_value(self.model.resolve(pk), rng)
        cloud, acc, reg, zone = rng.choice(self.zones)
        anc = {"cloud": cloud, "account": acc, "region": reg, "zone": zone}
        return {
            "type": "node",
            "id": nid,
            "reported": rep,
            "ancestors": {c: {"reported": {"id": v}} for c, v in anc.items() if v},
        }

    def add_node(self, kind: str) -> str:
        nid = self._new_id("n")
        self.nodes[nid] = self._node_doc(nid, kind)
        self.out[nid] = []
        self.by_kind.setdefault(kind, []).append(nid)
        return nid

    def kind_of(self, nid: str) -> str:
        return self.nodes[nid]["reported"]["kind"]

    def _random_edge(self, src: str) -> tuple[str, str] | None:
        """A new outbound edge of ``src`` that follows its kind's pairs."""
        rng = self.rng
        tk = self.targets.get(self.kind_of(src))
        if not tk:
            return None
        pool = self.by_kind.get(rng.choice(tk)) or []
        if not pool:
            return None
        dst = rng.choice(pool)
        if (dst, "default") in self.out[src]:
            return None
        return dst, "default"

    def _base_edges(self) -> None:
        rng, p = self.rng, self.p
        srcs = [n for k in self.targets for n in self.by_kind.get(k, [])]
        made = 0
        tries = 0
        while made < p.edges and tries < p.edges * 4 and srcs:
            tries += 1
            src = rng.choice(srcs)
            e = self._random_edge(src)
            if e is not None:
                self._link(src, *e)
                made += 1
        # internal nodes (a kind with no table) are reached by
        # non-default edges only, so they add no link table
        owners = self.by_kind[self.concrete[0]]
        for n in self.by_kind.get("bench_internal", []):
            self._link(rng.choice(owners), n, "delete")
        res = [n for k in self.concrete for n in self.by_kind.get(k, [])]
        for _ in range(int(p.edges * OTHER_EDGES)):
            a, b = rng.choice(res), rng.choice(res)
            if a != b and (b, "delete") not in self.out[a]:
                self._link(a, b, "delete")
        for _ in range(max(1, int(p.edges * DANGLING))):
            self.ghost += 1
            self._link(rng.choice(res), f"ghost-{self.ghost:06d}", "default")

    # --- delta generations ---------------------------------------------------

    def step(self) -> list[dict]:
        """Advance the live graph by one generation; return the delta
        docs (sync_delta's contract: a changed node ships its complete
        current outbound edge set)."""
        rng = self.rng
        live = [n for k in self.concrete for n in self.by_kind.get(k, [])]
        changed: set[str] = set()
        deleted = rng.sample(live, max(1, int(len(live) * DELETED)))
        dead = set(deleted)
        for nid in deleted:
            self._drop(nid)
        live = [n for n in live if n not in dead]
        picked = rng.sample(live, max(1, int(len(live) * CHANGE)))
        # kind changes go to nodes with no default edge in or out, so
        # the set of link tables (and with it the cost of a sync) stays
        # the same from generation to generation and seed to seed
        isolated = [n for n in live if not self._has_default_edge(n)]
        n_movers = min(len(isolated), max(1, round(len(picked) * KIND_CHANGE)))
        movers = set(rng.sample(isolated, n_movers))
        for nid in picked + sorted(movers - set(picked)):
            kind = self.kind_of(nid)
            if nid in movers:
                new_kind = rng.choice([k for k in self.concrete if k != kind])
                self.by_kind[kind].remove(nid)
                self.by_kind.setdefault(new_kind, []).append(nid)
                kind = new_kind
            old = self.nodes[nid]
            doc = self._node_doc(nid, kind)
            doc["ancestors"] = old["ancestors"]
            self.nodes[nid] = doc
            self._mutate_edges(nid)
            changed.add(nid)
        for _ in range(max(1, int(len(live) * NEW))):
            nid = self.add_node(rng.choice(self.concrete))
            for _ in range(rng.randint(0, 3)):
                e = self._random_edge(nid)
                if e is not None:
                    self._link(nid, *e)
            changed.add(nid)
        changed -= dead
        docs: list[dict] = []
        for nid in sorted(changed):
            docs.append(self.nodes[nid])
            docs.extend(self._edge_docs(nid))
        docs.extend({"type": "deleted", "id": nid} for nid in deleted)
        return docs

    def _has_default_edge(self, nid: str) -> bool:
        return any(t == "default" for _, t in self.out[nid]) or any(
            (nid, "default") in self.out[s] for s in self.inc.get(nid, ()))

    def _mutate_edges(self, nid: str) -> None:
        rng = self.rng
        default = [e for e in self.out[nid] if e[1] == "default"]
        if default and rng.random() < 0.3:
            self._unlink(nid, rng.choice(default))
        if rng.random() < 0.3:
            e = self._random_edge(nid)
            if e is not None:
                self._link(nid, *e)

    def _drop(self, nid: str) -> None:
        """Remove a node, its outbound edges and every edge into it."""
        kind = self.kind_of(nid)
        for e in list(self.out[nid]):
            self._unlink(nid, e)
        for src in self.inc.pop(nid, set()):
            self.out[src][:] = [e for e in self.out[src] if e[0] != nid]
        del self.nodes[nid]
        del self.out[nid]
        self.by_kind[kind].remove(nid)

    # --- rendering and expectations -------------------------------------------

    def _edge_docs(self, nid: str) -> list[dict]:
        return [{"type": "edge", "from": nid, "to": d, "edge_type": t}
                for d, t in self.out[nid]]

    def docs(self):
        """Nodes, then edges, then the planted docs with no ``type``."""
        for nid in self.nodes:
            yield self.nodes[nid]
        for nid in self.nodes:
            yield from self._edge_docs(nid)
        for d in self.untyped:
            yield {k: v for k, v in d.items() if k != "type"}

    def expected_tables(self, node_index: bool) -> dict[str, list[int]]:
        """Published table -> [rows, checksum] for a full sync of the
        live graph: one table per table kind (possibly empty), one link
        table per kind pair of resolvable default edges."""
        m = self.model
        out: dict[str, list[int]] = {}
        for kind in m.table_kinds():
            cols = sorted(m.columns(kind).items())
            rows = []
            for nid in self.by_kind.get(kind, []):
                doc = self.nodes[nid]
                rep, anc = doc["reported"], doc["ancestors"]
                row = []
                for c, ck in cols:
                    if c == "_id":
                        row.append(nid)
                    elif c in CARZ:
                        row.append(anc.get(c, {}).get("reported", {}).get("id"))
                    else:
                        row.append(canon(ck, rep.get(c)))
                rows.append(tuple(row))
            out[table_name(kind)] = checksum(rows)
        links: dict[str, list[tuple]] = {}
        for src, es in self.out.items():
            for dst, t in es:
                if t == "default" and dst in self.nodes:
                    name = link_name(self.kind_of(src), self.kind_of(dst))
                    links.setdefault(name, []).append((src, dst))
        out.update({n: checksum(r) for n, r in links.items()})
        if node_index:
            out["_node_index"] = checksum((n, self.kind_of(n)) for n in self.nodes)
        return out

    def counts(self) -> dict[str, int]:
        n_edges = sum(len(es) for es in self.out.values())
        return {"nodes": len(self.nodes), "edges": n_edges,
                "untyped": len(self.untyped)}


# --- queries and searches -----------------------------------------------------


def query_plan(g: Graph) -> dict:
    """The fixed query mix for this graph: Spark SQL text, the DuckDB
    oracle text over the same Parquet (DuckDB's map subscript returns
    a list), and the two searches."""
    m = g.model
    big = sorted(g.concrete, key=lambda k: -len(g.by_kind.get(k, [])))
    carz_tables = big[:4]
    union = " UNION ALL ".join(
        f"SELECT account, region, zone FROM {table_name(k)}" for k in carz_tables
    )
    carz = (f"SELECT account, region, zone, count(*) AS n FROM ({union}) t "
            "GROUP BY account, region, zone")
    # the link pair with the most edges between two table kinds
    weight: dict[tuple[str, str], int] = {}
    for src, es in g.out.items():
        for dst, t in es:
            if t == "default" and dst in g.nodes:
                key = (g.kind_of(src), g.kind_of(dst))
                if key in g.pairs:
                    weight[key] = weight.get(key, 0) + 1
    a, b = max(sorted(weight), key=lambda k: weight[k])
    join = (
        f"SELECT x.state AS state, count(*) AS n, sum(y.size) AS s "
        f"FROM {table_name(a)} x JOIN {link_name(a, b)} l ON x._id = l.from_id "
        f"JOIN {table_name(b)} y ON l.to_id = y._id GROUP BY x.state"
    )
    tk = big[0]
    tag = (f"SELECT count(*) AS n, sum(size) AS s FROM {table_name(tk)} "
           "WHERE tags['env'] = 'prod' AND name LIKE '%7%'")
    tag_duck = tag.replace("tags['env']", "tags['env'][1]")
    # s_is_kind: every kind under family 0 (is() is inheritance-aware)
    s_is = "is(bench_family_0) and size > 549755813888"
    num_prop = next(
        (n for n, pk in m.props(a).items() if m.resolve(pk) in ("int32", "int64")
         and n != "size"), "size")
    s_trav = f"is({a}) and {num_prop} > 50000 -[1:2]->"
    queries = {
        "q_carz_counts": {"sql": carz, "duck": carz,
                          "tables": [table_name(k) for k in carz_tables]},
        "q_link_join": {"sql": join, "duck": join,
                        "tables": [table_name(a), link_name(a, b), table_name(b)]},
        "q_tag_filter": {"sql": tag, "duck": tag_duck, "tables": [table_name(tk)]},
    }
    searches = {"s_is_kind": s_is, "s_traverse": s_trav}
    return {"queries": queries, "searches": searches,
            "search_args": {"is_base": "bench_family_0", "trav_kind": a,
                            "trav_prop": num_prop}}


def expected_searches(g: Graph, args: dict) -> dict[str, list[int]]:
    m = g.model
    hit = [n for n, d in g.nodes.items()
           if args["is_base"] in m.bases_closure(d["reported"]["kind"])
           and (d["reported"].get("size") or 0) > (1 << 39)]
    starts = {n for n, d in g.nodes.items()
              if d["reported"]["kind"] == args["trav_kind"]
              and (d["reported"].get(args["trav_prop"]) or 0) > 50000}
    seen = set(starts)
    frontier = set(starts)
    reached: set[str] = set()
    for _ in range(2):
        nxt = {d for s in frontier for d, t in g.out.get(s, ()) if t == "default"}
        nxt -= seen
        seen |= nxt
        reached |= nxt
        frontier = nxt
    reached &= set(g.nodes)
    return {"s_is_kind": checksum((n,) for n in hit),
            "s_traverse": checksum((n,) for n in reached)}


def _write_ndjson(path: str, docs) -> int:
    with open(path, "w") as f:
        for d in docs:
            f.write(json.dumps(d, separators=(",", ":")))
            f.write("\n")
    return os.path.getsize(path)


def states(workload: str, seed: int, out: str, node_index: bool):
    """Write the model, the query plan and state 0 under ``out``, then
    yield state 0 and, each time it is resumed, the next generation.
    A state is its NDJSON path and doc counts plus the expected tables
    and search results; the files of the state before are removed."""
    g = Graph(PROFILES[workload], random.Random(f"{workload}:{seed}"))
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "model.json"), "w") as f:
        json.dump(g.model_json, f)
    plan = query_plan(g)
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f)
    info: dict = {}
    i = 0
    while True:
        path = os.path.join(out, f"state-{i:04d}.ndjson")
        last, info = info, {"state": i, "path": path}
        if i:
            info["delta_path"] = os.path.join(out, f"delta-{i:04d}.ndjson")
            info["delta_bytes"] = _write_ndjson(info["delta_path"], g.step())
        info.update(
            bytes=_write_ndjson(path, g.docs()),
            **g.counts(),
            tables=g.expected_tables(node_index),
            searches=expected_searches(g, plan["search_args"]),
        )
        for old in ("path", "delta_path"):
            if old in last:
                os.remove(last[old])
        yield info
        i += 1

