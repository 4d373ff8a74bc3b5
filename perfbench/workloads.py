"""Request generation for the benchmark's workloads.

Everything here is a pure function of the seed: the seed generates the
input tables, fixes the order of the reads in every round and the writes
of a traced run's front-door phase. The harness receives only the
generated requests.
"""

import random

CUSTOMER = 3 * 10**12
# uid band of the benchmark's own writes: far above every uid band the
# engine allocates for the input tables
BENCH_UID = 20 * 10**12

# The reads: the JSON-rendered read gates of DqlQueries and GraphqlQueries,
# verbatim, so every answer is checked against the gate's DuckDB oracle.
READS = {
    "json_deep": ("dql", "dql_json_deep", (
        f"{{ q(func: uid({CUSTOMER + 1}, {CUSTOMER + 2}, {CUSTOMER + 4})) {{\n"
        "      name\n"
        "      placed (orderdesc: totalprice, first: 2) {\n"
        "        orderstatus\n"
        "        has_line (first: 2) { returnflag } } } }")),
    "json_nested": ("dql", "dql_json_nested", (
        '{ cust(func: eq(mktsegment, "BUILDING"), orderasc: name, first: 20) {\n'
        "      name\n"
        "      nc: count(placed)\n"
        "      placed (orderdesc: totalprice, first: 2) @facets(totalprice) {\n"
        "        orderstatus }\n"
        "    }\n"
        "    docs(func: type(Document), first: 15) { text@en:.  source } }")),
    "recurse_json": ("dql", "dql_recurse_json", (
        "{ q(func: le(acctbal, -800)) @recurse(depth: 3) {\n"
        "    name located_in in_region } }")),
    "gql_json": ("graphql", "graphql_json", (
        "query {\n"
        '  queryCustomer(filter: { mktsegment: { eq: "BUILDING" } },\n'
        "                order: { asc: name }, first: 10) {\n"
        "    name\n"
        "    located_in { name }\n"
        "    placed(order: { desc: orderdate }, first: 2) { orderstatus }\n"
        "  } }")),
}


# One round of the reads takes 10-15 s at local[4] on the generated tables.
# A window holds a fixed number of rounds worked out from --seconds, not
# as many as fit, so a slow run does not get fewer and colder passes than
# a fast one. A traced run splits --seconds into two windows.
ROUND_S = 15


def read_request(rid, name):
    kind, gate, query = READS[name]
    return {"id": rid, "kind": kind, "template": name, "query": query, "gate": gate}


def read_rounds(prefix, r, rounds):
    """`rounds` rounds of reads; each visits every template once, in a
    seeded order, so every window carries the same template mix."""
    out = []
    for _ in range(rounds):
        order = sorted(READS)
        r.shuffle(order)
        out += [read_request(f"{prefix}{len(out) + i}", n) for i, n in enumerate(order)]
    return out


ALTER = ("bench_name: string @index(exact) .\n"
         "bench_score: int .\n"
         "type BenchItem {\n  bench_name\n  bench_score\n}\n")
READBACK = "{ q(func: type(BenchItem)) { uid bench_name bench_score } }"


def write_stream(prefix, client, r, seed):
    """Two writes for one client: a create of a BenchItem node in the
    client's own uid range, then an update (client 1) or a delete
    (client 2) of that node. Clients never touch each other's nodes, so
    the final state does not depend on how the two interleave. No read
    can see the type or its predicates."""
    uid = BENCH_UID + client * 10**6 + r.randrange(10**6)
    s, name = f"<{hex(uid)}>", f"bench-{seed}-{client}"
    bodies = {
        "create": f'  {s} <bench_name> "{name}" .\n  {s} <bench_score> "{{score}}" .\n'
                  f'  {s} <dgraph.type> "BenchItem" .\n',
        "update": f'  {s} <bench_score> "{{score}}" .\n',
        "delete": f"  {s} * * .\n"}
    out = []
    for i, op in enumerate(["create", "update" if client == 1 else "delete"]):
        score = r.randint(0, 999)
        body = bodies[op].format(score=score)
        block = "delete" if op == "delete" else "set"
        out.append({"id": f"{prefix}{i}", "kind": "mutate", "template": f"write_{op}",
                    "query": f"{{ {block} {{\n{body}}} }}",
                    "write": {"op": op, "uid": hex(uid), "name": name, "score": score,
                              "triples": body.count(" .\n")}})
    return out


def spec(workload, seed, seconds, trace, stage_rules):
    """The harness input for one run."""
    r = random.Random(seed)
    s = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace}
    if workload == "batch_pipeline":
        s["stages"] = stage_rules
        return s
    prefix = f"s{seed}-"
    s["warm"] = [read_request(f"{prefix}w{i}", n) for i, n in enumerate(sorted(READS))]
    s["round"] = len(READS)
    s["rounds"] = max(1, int((seconds / 2 if trace else seconds) // ROUND_S))
    s["reads"] = read_rounds(prefix + "r", r, s["rounds"] * (2 if trace else 1))
    # traced runs only: two front-door clients, each sending three reads
    # with its two writes between them
    s["writes"] = [write_stream(f"{prefix}c{c}-w", c, r, seed) for c in (1, 2)]
    s["alter"] = ALTER
    s["readback"] = READBACK
    return s
