"""Seeded op lists for the four workloads.

Everything the engine sees is generated here from the workload seed: the
BSBM Explore constants, the op order and the write batches. The op list
is plain JSON-serialisable data, so `op_list_bytes` can show that one
seed always yields the same bytes. SPARQL and oracle SQL texts come from
the engine's query registry; constants are substituted into both sides
of a template by exact string replacement, and a replacement that no
longer matches the registry text raises instead of silently producing
the registry's own constant.
"""

from __future__ import annotations

import json
import random

from rdf_fusion_spark import entry_queries as EQ

EXPLORE_TEMPLATES = ["explore_q1", "explore_q4", "explore_q8", "explore_q10",
                     "explore_q11"]
# `loaded_rw` opens every WRITE_EVERY-th cycle, starting with the first,
# with a write group
WRITE_EVERY = 4

ANALYTIC_QUERIES = [
    "q1_pricing_summary", "q3_topk_revenue", "q5_star_join",
    "q_bsbm_bi_q4", "q_bsbm_bi_q5", "q_bsbm_bi_q6", "q_bsbm_bi_q8",
    "q_windfarm_multi3", "q_optional_highqty",
]

# One call or more per pipeline module (dedup, similarity, text, temporal,
# sessions, pii). Substring/incremental dedup, tf-idf and the as-of join
# are left out: their first calls would add ~10 s to every run's set-up.
PIPELINE_CALLS = [
    "q_dedup_minhash_lsh", "q_dedup_semantic", "q_text_bm25_topk",
    "q_events_interval_join", "q_events_sessionize",
    "q_events_sessionize_sliced", "q_pii_scan",
]

BENCH_NS = "x:bench:"


def _subst(text: str, pairs: list[tuple[str, str]]) -> str:
    for old, new in pairs:
        if old not in text:
            raise ValueError(f"template constant {old!r} not found")
        text = text.replace(old, new)
    return text


def explore_instance(template: str, rng: random.Random, tables
                     ) -> tuple[str, str]:
    """(SPARQL with prologue, oracle SQL) of one seeded template instance.

    Constant ranges follow `bsbm_mix_instances`, but each instance is
    anchored on a seeded row of the generated tables that satisfies its
    filters, so no instance is degenerate (empty)."""
    spec = EQ.SPECS["q_bsbm_" + template]
    part, line = tables["part"], tables["lineitem"]
    if template == "explore_q1":
        row = _pick(rng, part[part.p_size > 5])
        size = rng.choice(range(5, int(row.p_size), 5))
        q = [('"Brand#3"', f'"{row.p_brand}"'),
             ('"STANDARD"', f'"{row.p_type}"'),
             ('"10"^^xsd:integer', f'"{size}"^^xsd:integer')]
        o = [("'Brand#3'", f"'{row.p_brand}'"),
             ("'STANDARD'", f"'{row.p_type}'"),
             ("p_size > 10", f"p_size > {size}")]
    elif template == "explore_q4":
        row = _pick(rng, part[part.p_size > 30])
        size = rng.choice(range(30, int(row.p_size), 5))
        price = 800 + rng.randrange(10) * 50
        q = [('"MEDIUM"', f'"{row.p_type}"'),
             ('"45"^^xsd:integer', f'"{size}"^^xsd:integer'),
             ("995.0", f"{price}.0")]
        o = [("'MEDIUM'", f"'{row.p_type}'"),
             ("p_size > 45", f"p_size > {size}"),
             ("p_retailprice > 995.0", f"p_retailprice > {price}.0")]
    elif template == "explore_q8":
        key = int(_pick(rng, line).l_partkey)
        q = [("<x:p:42>", f"<x:p:{key}>")]
        o = [("l_partkey = 42", f"l_partkey = {key}")]
    elif template == "explore_q10":
        row = _pick(rng, line[(line.l_quantity <= 30)
                              & (line.l_shipdate > "1996-06-20")])
        sup = tables["supplier"]
        nation = int(sup.s_nationkey[sup.s_suppkey == row.l_suppkey].iloc[0])
        q = [("<x:p:42>", f"<x:p:{int(row.l_partkey)}>"),
             ("<x:n:4>", f"<x:n:{nation}>")]
        o = [("l_partkey = 42", f"l_partkey = {int(row.l_partkey)}"),
             ("s_nationkey = 4", f"s_nationkey = {nation}")]
    elif template == "explore_q11":
        nation = rng.randrange(25)
        q = [("<x:n:5>", f"<x:n:{nation}>")]
        o = [("n_nationkey = 5", f"n_nationkey = {nation}"),
             ("'5', NULL", f"'{nation}', NULL"),
             ("c_nationkey = 5", f"c_nationkey = {nation}"),
             ("s_nationkey = 5", f"s_nationkey = {nation}")]
    else:
        raise ValueError(template)
    return EQ.PROLOGUE + _subst(spec.sparql, q), _subst(spec.oracle, o)


def _pick(rng: random.Random, frame):
    return frame.iloc[rng.randrange(len(frame))]


def explore_read(name: str, rng: random.Random, tables) -> dict:
    sparql, sql = explore_instance(name, rng, tables)
    return {"kind": "read", "name": name, "sparql": sparql, "oracle": sql,
            "out": [list(c) for c in EQ.SPECS["q_bsbm_" + name].out]}


def _cycles(names: list[str], rng: random.Random, n_cycles: int):
    """Each cycle runs every name once in a fresh seeded order, so every
    run of a workload measures the same mix of templates."""
    for c in range(n_cycles):
        order = list(names)
        rng.shuffle(order)
        yield c, order


def explore_ops(seed: int, n_cycles: int, tables) -> list[dict]:
    rng = random.Random(f"explore:{seed}")
    ops = []
    for c, order in _cycles(EXPLORE_TEMPLATES, rng, n_cycles):
        for t in order:
            ops.append({"cycle": c, **explore_read(t, rng, tables)})
    return ops


def named_ops(workload: str, names: list[str], seed: int, n_cycles: int
              ) -> list[dict]:
    rng = random.Random(f"{workload}:{seed}")
    return [{"cycle": c, "kind": "read", "name": n}
            for c, order in _cycles(names, rng, n_cycles) for n in order]


def _triples(batch: list[tuple[int, str]], pred: str) -> str:
    return " ".join(f'<{BENCH_NS}s{k}> <{BENCH_NS}{pred}> "{v}" .'
                    for k, v in batch)


def write_group(rng: random.Random, cycle: int) -> list[dict]:
    """INSERT DATA a seeded batch, move it to another predicate with
    DELETE/INSERT WHERE, then DELETE DATA it: the store holds `+len(batch)`
    quads after the first two writes and its base size after the third."""
    size = rng.randint(1, 8)
    batch = [(cycle * 100 + i, f"v{rng.randrange(10**6)}")
             for i in range(size)]
    p, q = f"{BENCH_NS}p", f"{BENCH_NS}q"
    return [
        {"kind": "write", "name": "insert_data", "delta": size,
         "changed": size,
         "sparql": "INSERT DATA { " + _triples(batch, "p") + " }"},
        {"kind": "write", "name": "delete_insert_where", "delta": 0,
         "changed": 2 * size,
         "sparql": f"DELETE {{ ?s <{p}> ?o }} INSERT {{ ?s <{q}> ?o }} "
                   f"WHERE {{ ?s <{p}> ?o }}"},
        {"kind": "write", "name": "delete_data", "delta": -size,
         "changed": size,
         "sparql": "DELETE DATA { " + _triples(batch, "q") + " }"},
    ]


def loaded_rw_ops(seed: int, n_cycles: int, tables) -> list[dict]:
    """Each cycle runs the `explore` templates in a seeded order with
    fresh seeded constants, so a read gain or loss on the loaded layout
    compares directly with the virtual store. The write group's position
    is fixed because read latency depends on how many writes came before
    (each write re-materializes the table)."""
    rng = random.Random(f"loaded_rw:{seed}")
    ops = []
    for c, order in _cycles(EXPLORE_TEMPLATES, rng, n_cycles):
        writes = write_group(rng, c) if c % WRITE_EVERY == 0 else []
        for op in writes + [explore_read(t, rng, tables) for t in order]:
            ops.append({"cycle": c, **op})
    return ops


def make_ops(workload: str, seed: int, n_cycles: int, tables
             ) -> list[dict]:
    if workload == "explore":
        ops = explore_ops(seed, n_cycles, tables)
    elif workload == "analytic":
        ops = named_ops(workload, ANALYTIC_QUERIES, seed, n_cycles)
    elif workload == "pipeline":
        ops = named_ops(workload, PIPELINE_CALLS, seed, n_cycles)
    elif workload == "loaded_rw":
        ops = loaded_rw_ops(seed, n_cycles, tables)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    for i, op in enumerate(ops):
        op["op_id"] = f"{workload}-{i}"
    return ops


def op_list_bytes(ops: list[dict]) -> bytes:
    return json.dumps(ops, sort_keys=True, separators=(",", ":")).encode()
