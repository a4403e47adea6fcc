"""The workloads: which ops a pass holds, the seeded pass order, and
for `store_rw` the seeded NQL statement stream with a driver-side model
that predicts every statement's output and the store's final view.

Everything here is a pure function of the seed, so the same seed always
gives the same plan (tests/test_harness.py pins this).
"""
import random

# Ops per pass. Each pass runs every op once, in an order drawn from the
# seed; a run measures whole passes only, so every run of a workload holds
# the same ops whatever its seed. Why each op is here: README.md.
GRAPH_OPS = [
    "g14_kcore",
]
# The filter-then-verify word-Jaccard join (pipeline module) and LSH
# banding (vector module). d04 (MinHash) is left out for the time budget,
# and d13 because it shares d04's signature artifacts: whichever of the two
# ran first in a pass paid the build, so latency followed the seeded order.
SIMJOIN_OPS = [
    "d03_neardup_word_jaccard",
    "v09_lsh_banded_near_dup",
]

# A run is one untimed setup pass (setup_s), then `warmup_passes` untimed
# passes, then whole timed passes until its seconds are up, and at least
# `min_passes`. Ops keep getting faster for several passes after setup
# while the JIT compiles Spark's driver code (g14: 3.2, 2.6, 2.4, 2.3, then
# ~2.0 s), so a fixed count of passes puts every run at the same point of
# that curve, and the warm-up pass keeps its steepest part out of the
# medians. The counts are set by the benchmark's time budget (README.md).
WORKLOADS = {
    "graph_iterative": {"ops": GRAPH_OPS, "reset_each_pass": False,
                        "warmup_passes": 1, "min_passes": 3},
    # A dedup job over a new snapshot: derived artifacts and cached frames
    # are dropped (untimed) before every pass, so each pass rebuilds them.
    "simjoin_dedup": {"ops": SIMJOIN_OPS, "reset_each_pass": True,
                      "warmup_passes": 1, "min_passes": 3},
    # A store statement is warm after one block (a second untimed block
    # measured as slow as the timed one after it).
    "store_rw": {"ops": None, "reset_each_pass": False,
                 "warmup_passes": 0, "min_passes": 1},
}

MAX_PASSES = 64          # upper bound on timed passes in one run


def module_of(name):
    """The graft module an op's code lives in, by its name prefix."""
    return {"g": "graph", "v": "vector", "d": "pipeline"}[name[0]]


def pass_orders(ops, seed, passes):
    """`passes` permutations of `ops`, fixed by `seed`."""
    rng = random.Random(f"order:{seed}")
    out = []
    for _ in range(passes):
        p = list(ops)
        rng.shuffle(p)
        out.append(p)
    return out


# ---- store_rw: statement stream and model ------------------------------

KEYS = [f"w:{i}" for i in range(12)]
NAMES = ["n0", "n1", "n2", "n3", "n4"]
TEAMS = ["red", "blue", "green"]
ETYPES = ["knows", "cites"]
LABELS = ["person", "doc"]
EMB_DIM = 8

# Statements per block, by kind: every write kind and every read kind
# once (10 writes, 6 reads; reads take about half the block's time); a
# compaction follows the block's last write. Only the order and the
# arguments come from the seed, so every block costs about the same.
WRITE_MIX = {"node_create": 1, "entity_create": 1, "edge_create": 1, "batch_create": 1,
             "entity_update": 1, "match_set": 1, "node_delete": 1, "edge_delete": 1,
             "sql_update": 1, "sql_delete": 1}
READ_MIX = {"node_get": 1, "neighbors": 1, "find_nodes": 1, "match_return": 1,
            "similar": 1, "sql_select": 1}


class StoreModel:
    """Driver-side model of the entity store's latest-wins log and of the
    `cust` table copy. Store keys (`w:*`), labels and edge types never
    occur in the base graph, so the overlay views reduce to the store."""

    def __init__(self, customers):
        self.nodes = {}          # key -> (props, has_embedding) or None if deleted
        self.edges = {}          # (src, dst, etype) -> alive
        # custkey -> [nationkey, acctbal in cents], live rows only
        self.cust = {k: list(v) for k, v in customers.items()}

    def live(self):
        return {k: v for k, v in self.nodes.items() if v is not None}

    def label(self, props, key):
        return props.get("label", "entity"), props.get("name", key)

    def live_edges(self):
        return [e for e, alive in self.edges.items() if alive]

    def cust_acctbal_cents(self):
        return sum(c for _, c in self.cust.values())

    def apply(self, kind, args):
        """Apply one statement. A read returns the row count it must
        produce; a write (which returns one status row) returns the count
        of rows it must report as changed, or None when it reports none."""
        live = self.live()
        if kind in ("node_create", "entity_create"):
            key, props, emb = args
            self.nodes[key] = (props, emb)
            return None
        if kind in ("batch_create", "entity_batch_create"):
            for key, props in args:
                self.nodes[key] = (props, False)
            return len(args)
        if kind == "embed_batch":
            for key in args:
                self.nodes[key] = (live[key][0], True)
            return len(args)
        if kind == "edge_create":
            self.edges[args] = True
            return None
        if kind == "edge_batch_create":
            for e in args:
                self.edges[e] = True
            return len(args)
        if kind == "edge_delete":
            self.edges[args] = False
            return None
        if kind == "entity_update":
            key, props = args
            old, emb = live[key]
            self.nodes[key] = ({**old, **props}, emb)
            return None
        if kind == "match_set":
            name, prop, value = args
            hit = [k for k, (p, _) in live.items() if self.label(p, k) == ("person", name)]
            for key in hit:
                props, emb = live[key]
                self.nodes[key] = ({**props, prop: value}, emb)
            return len(hit)
        if kind == "node_delete":
            self.nodes[args] = None
            return None
        if kind == "sql_update":
            if args not in self.cust:
                return 0
            self.cust[args][1] += 100
            return 1
        if kind == "sql_delete":
            return 0 if self.cust.pop(args, None) is None else 1
        if kind == "node_get":
            return 1 if args in live else 0
        if kind == "neighbors":
            return sum((s == args) + (d == args) for s, d, _ in self.live_edges())
        if kind == "find_nodes":
            return sum(1 for k, (p, _) in live.items()
                       if self.label(p, k)[0] == "person" and p.get("team") == args)
        if kind == "match_return":
            persons = {k for k, (p, _) in live.items() if self.label(p, k)[0] == "person"}
            return sum(1 for s, d, t in self.live_edges()
                       if t == "knows" and s in persons and d in persons)
        if kind == "similar":
            if args not in live:
                return 0
            others = sum(1 for k, (_, emb) in live.items() if emb and k != args)
            return min(5, others)
        if kind == "sql_select":
            return sum(1 for n, _ in self.cust.values() if n == args)
        raise ValueError(kind)

    def view(self):
        """Final live view: {key: (sorted props, has_embedding)} and edge set."""
        ents = {k: (sorted(p.items()), emb) for k, (p, emb) in self.live().items()}
        return ents, sorted(self.live_edges())


def _vec(rng):
    return [round(rng.uniform(-1, 1), 3) for _ in range(EMB_DIM)]


def _props_sql(props):
    return ", ".join(f"{k} = '{v}'" for k, v in sorted(props.items()))


def _statement(kind, rng, model):
    """Draw the arguments of one `kind` statement against the model's
    current state; return (kind, args, text). Kinds whose target must
    exist fall back to a create when nothing qualifies."""
    live = model.live()
    if kind == "entity_update" and not live:
        kind = "entity_create"
    if kind == "edge_delete" and not model.live_edges():
        kind = "edge_create"
    if kind == "node_delete" and not live:
        kind = "node_create"
    key = rng.choice(KEYS)
    if kind == "node_create":
        props = {"label": rng.choice(LABELS), "name": rng.choice(NAMES)}
        return kind, (key, props, False), \
            f"NODE CREATE '{key}' LABEL '{props['label']}' NAME '{props['name']}'"
    if kind == "entity_create":
        props = {"label": "person", "name": rng.choice(NAMES), "team": rng.choice(TEAMS)}
        vec = ", ".join(str(x) for x in _vec(rng))
        return kind, (key, props, True), \
            f"ENTITY CREATE '{key}' SET {_props_sql(props)} EMBEDDING ({vec})"
    if kind == "batch_create":
        items = [(k, {"label": rng.choice(LABELS), "name": rng.choice(NAMES)})
                 for k in rng.sample(KEYS, 3)]
        text = "NODE BATCH CREATE " + " AND ".join(
            f"'{k}' LABEL '{p['label']}' NAME '{p['name']}'" for k, p in items)
        return kind, items, text
    if kind == "edge_create":
        src, dst = rng.sample(KEYS, 2)
        et = rng.choice(ETYPES)
        return kind, (src, dst, et), f"EDGE CREATE '{src}' TO '{dst}' TYPE '{et}'"
    if kind == "edge_delete":
        src, dst, et = rng.choice(sorted(model.live_edges()))
        return kind, (src, dst, et), f"EDGE DELETE '{src}' TO '{dst}' TYPE '{et}'"
    if kind == "entity_update":
        key = rng.choice(sorted(live))
        props = {"team": rng.choice(TEAMS)}
        return kind, (key, props), f"ENTITY UPDATE '{key}' SET {_props_sql(props)}"
    if kind == "match_set":
        name, level = rng.choice(NAMES), str(rng.randint(1, 5))
        return kind, (name, "level", level), \
            f"MATCH (p:person {{name: '{name}'}}) SET p.level = '{level}'"
    if kind == "node_delete":
        key = rng.choice(sorted(live))
        return kind, key, f"NODE DELETE '{key}'"
    if kind == "sql_update":
        ck = rng.choice(sorted(model.cust)) if model.cust else 0
        return kind, ck, f"UPDATE cust SET c_acctbal = c_acctbal + 1 WHERE c_custkey = {ck}"
    if kind == "sql_delete":
        ck = rng.choice(sorted(model.cust)) if model.cust else 0
        return kind, ck, f"DELETE FROM cust WHERE c_custkey = {ck}"
    if kind == "node_get":
        return kind, key, f"NODE GET '{key}'"
    if kind == "neighbors":
        return kind, key, f"NEIGHBORS '{key}'"
    if kind == "find_nodes":
        team = rng.choice(TEAMS)
        return kind, team, f"FIND NODES person WHERE team = '{team}' RETURN key"
    if kind == "match_return":
        return kind, None, "MATCH (a:person)-[:knows]->(b:person) RETURN a.key, b.key"
    if kind == "similar":
        embedded = sorted(k for k, (_, e) in live.items() if e)
        key = rng.choice(embedded) if embedded else key
        return kind, key, f"SIMILAR '{key}' LIMIT 5"
    if kind == "sql_select":
        nation = rng.randrange(25)
        return kind, nation, f"SELECT c_custkey FROM cust WHERE c_nationkey = {nation}"
    raise ValueError(kind)


WRITE_KINDS = set(WRITE_MIX)


def _op(rw, kind, text, result):
    """A plan op with its expected output: a read's row count, or a
    write's one status row and its changed-row count."""
    if rw == "w":
        return {"kind": "write", "name": kind, "text": text, "expect": 1, "affected": result}
    return {"kind": "read", "name": kind, "text": text, "expect": result}


def store_blocks(seed, blocks, customers):
    """`blocks` blocks of statements for one fresh store, with the model's
    expected output for each. Returns (preload, blocks, model): the
    preload creates every key once; each block is a list of ops
    {kind, name, text, expect[, affected]}, where `kind` is
    read/write/compact and `name` the statement kind. The model holds the
    state after the last block, and the stream of a shorter call is a
    prefix of a longer one."""
    rng = random.Random(f"store:{seed}")
    model = StoreModel(customers)
    out = []
    # Preload, three batch statements: every key starts as an embedded
    # person on a ring of edges, so updates, deletes and SIMILAR have
    # targets from the first statement on and no statement falls back to
    # another kind.
    pre_rng = random.Random(f"store:preload:{seed}")
    ents = [(k, {"label": "person", "name": pre_rng.choice(NAMES), "team": pre_rng.choice(TEAMS)})
            for k in KEYS]
    vecs = [(k, ", ".join(str(x) for x in _vec(pre_rng))) for k in KEYS]
    edges = [(a, b, pre_rng.choice(ETYPES)) for a, b in zip(KEYS, KEYS[1:] + KEYS[:1])]
    preload = [
        _op("w", "entity_batch_create", "ENTITY BATCH CREATE " + " AND ".join(
            f"'{k}' SET {_props_sql(p)}" for k, p in ents),
            model.apply("entity_batch_create", ents)),
        _op("w", "embed_batch", "EMBED BATCH " + ", ".join(f"'{k}' ({v})" for k, v in vecs),
            model.apply("embed_batch", KEYS)),
        _op("w", "edge_batch_create", "EDGE BATCH CREATE " + " AND ".join(
            f"'{a}' TO '{b}' TYPE '{t}'" for a, b, t in edges),
            model.apply("edge_batch_create", edges)),
    ]
    for _ in range(blocks):
        kinds = [k for k, n in WRITE_MIX.items() for _ in range(n)]
        reads = [k for k, n in READ_MIX.items() for _ in range(n)]
        rng.shuffle(kinds)
        # interleave: reads land at seeded positions among the writes
        seq = [("w", k) for k in kinds]
        for r in reads:
            seq.insert(rng.randrange(len(seq) + 1), ("r", r))
        block, writes = [], 0
        for rw, kind in seq:
            kind, args, text = _statement(kind, rng, model)
            writes += rw == "w"
            block.append(_op(rw, kind, text, model.apply(kind, args)))
            if rw == "w" and writes == len(kinds):
                block.append({"kind": "compact", "name": "compact", "text": "",
                              "expect": -1})
        out.append(block)
    return preload, out, model
