"""Reference results computed outside the engine (DuckDB and plain
Python) from the generated inputs, plus the integer fingerprint both
sides use to compare large results without shipping them to the
Spark driver."""

from __future__ import annotations

import glob
import json
from collections import defaultdict

import duckdb

P = 2147483647
MUL = 1000003
PAGERANK_SCALE = 10**12
EXCLUDED_SEMANTIC_TYPE = "Cancer-Numeric-Modifier"

_CONCEPT_COLS = (
    "{'line_no': 'BIGINT', 'id': 'BIGINT', 'name': 'VARCHAR', "
    "'semantic_type': 'VARCHAR', 'cui': 'VARCHAR', 'search_type': 'VARCHAR', "
    "'description': 'VARCHAR', 'property_concept': 'VARCHAR'}"
)
_SANITIZE = r"coalesce(regexp_replace({}, '[^a-zA-Z0-9\s]', '', 'g'), '')"
_NODE_COLS = ("id", "label", "name", "semantic_type", "cui", "search_type",
              "property_concept")


def fingerprint_rows(rows) -> tuple[int, int]:
    """``(row count, sum of a polynomial row hash mod P)`` over rows of
    non-negative integers; :func:`workloads.fingerprint` is the Spark
    twin."""
    total = 0
    n = 0
    for row in rows:
        h = 0
        for v in row:
            h = (h * MUL + int(v)) % P
        total += h
        n += 1
    return n, total


def parquet_rows(con, path: str, cols) -> list[tuple]:
    sel = ", ".join(cols)
    return sorted(
        con.execute(
            f"SELECT {sel} FROM read_parquet('{path}/*.parquet')"
        ).fetchall(),
        key=repr,
    )


def _sorted(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


def etl_reference(inputs: dict) -> dict:
    """Expected ETL outputs over the generated files: first-wins concept
    nodes, endpoint-validated PARENT_OF edges, first-wins sheet nodes
    and their edges, the keyed entity-id update, the not-found audit
    and the property-type enrichment."""
    p = inputs["paths"]
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE concepts AS SELECT * FROM read_json('{p['concepts']}', "
        f"format='newline_delimited', columns={_CONCEPT_COLS})"
    )
    con.execute(
        f"CREATE TABLE hierarchy AS SELECT * FROM read_json("
        f"'{p['hierarchy']}', format='newline_delimited', columns="
        "{'line_no': 'BIGINT', 'child_id': 'BIGINT', 'parent_id': 'BIGINT'})"
    )
    con.execute(
        f"CREATE TABLE mapping AS SELECT * FROM read_json('{p['mapping']}', "
        "format='newline_delimited', columns={'id': 'BIGINT', "
        "'entity_id': 'BIGINT'})"
    )
    con.execute(
        "CREATE TABLE rel (sheet_index INTEGER, line_no BIGINT, "
        "node1_id VARCHAR, node1_value VARCHAR, node1_type VARCHAR, "
        "node2_id VARCHAR, node2_value VARCHAR, node2_type VARCHAR, "
        "relationship VARCHAR)"
    )
    cols = ("sheet_index", "line_no", "node1_id", "node1_value", "node1_type",
            "node2_id", "node2_value", "node2_type", "relationship")
    con.executemany(
        "INSERT INTO rel VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)",
        [tuple(r[c] for c in cols)
         for _, data in inputs["sheets"].values() for r in data],
    )
    ref = {}
    ref["concept_nodes"] = _sorted(con.execute(
        f"""SELECT CAST(id AS VARCHAR), 'Concept', {_SANITIZE.format('name')},
                   semantic_type, cui, search_type, property_concept
            FROM (SELECT *, row_number() OVER (PARTITION BY id
                                               ORDER BY line_no) AS rn
                  FROM concepts) WHERE rn = 1"""
    ).fetchall())
    ref["concept_edges"] = _sorted(con.execute(
        """SELECT DISTINCT CAST(parent_id AS VARCHAR),
                  CAST(child_id AS VARCHAR), 'PARENT_OF'
           FROM hierarchy
           WHERE parent_id IN (SELECT id FROM concepts)
             AND child_id IN (SELECT id FROM concepts)"""
    ).fetchall())
    ref["sheet_nodes"] = _sorted(con.execute(
        f"""WITH r AS (SELECT * FROM rel WHERE node2_id IS NOT NULL),
            ends AS (
              SELECT node1_id AS id, node1_type AS label, node1_value AS v,
                     sheet_index AS s, line_no AS l, 0 AS side FROM r
              UNION ALL
              SELECT node2_id, node2_type, node2_value, sheet_index,
                     line_no, 1 FROM r)
            SELECT id, label, {_SANITIZE.format('v')}, label
            FROM (SELECT *, row_number() OVER (PARTITION BY label, id
                                               ORDER BY s, l, side) AS rn
                  FROM ends) WHERE rn = 1"""
    ).fetchall())
    ref["sheet_edges"] = _sorted(con.execute(
        """SELECT DISTINCT node1_id, node2_id, relationship FROM rel
           WHERE node2_id IS NOT NULL"""
    ).fetchall())
    ref["updated"] = _sorted(con.execute(
        """SELECT c.line_no, c.id, m.entity_id
           FROM concepts c LEFT JOIN mapping m USING (id)"""
    ).fetchall())
    ref["not_found"] = _sorted(con.execute(
        """SELECT DISTINCT id FROM concepts
           WHERE id NOT IN (SELECT id FROM mapping)"""
    ).fetchall())
    with open(p["snapshot"], encoding="utf-8") as f:
        snapshot = {int(k): v for k, v in json.load(f).items()}
    enriched = []
    for cid, stype in con.execute(
        "SELECT id, semantic_type FROM concepts"
    ).fetchall():
        if stype == EXCLUDED_SEMANTIC_TYPE or cid not in snapshot:
            continue
        types = list(dict.fromkeys(t.split(":")[0] for t in snapshot[cid]))
        enriched.append((cid, tuple(types), types[0] if types else None))
    ref["enriched"] = _sorted(enriched)
    con.close()
    return ref


def check_etl(out_dir: str, ref: dict, full: bool = True) -> list[str]:
    """Compare the written ETL outputs (read back with DuckDB) against
    :func:`etl_reference`; returns mismatch descriptions. ``full=False``
    checks the concept graph only."""
    con = duckdb.connect()
    got = {
        "concept_nodes": parquet_rows(
            con, f"{out_dir}/concept_nodes", _NODE_COLS),
        "concept_edges": parquet_rows(
            con, f"{out_dir}/concept_edges", ("src", "dst", "relationship")),
    }
    if full:
        got |= {
            "sheet_nodes": parquet_rows(
                con, f"{out_dir}/sheet_nodes", ("id", "label", "name", "type")),
            "sheet_edges": parquet_rows(
                con, f"{out_dir}/sheet_edges", ("src", "dst", "relationship")),
            "updated": parquet_rows(
                con, f"{out_dir}/updated", ("line_no", "id", "entity_id")),
            "not_found": parquet_rows(con, f"{out_dir}/not_found", ("id",)),
            "enriched": sorted(
                ((i, tuple(t) if t is not None else None, n) for i, t, n in
                 con.execute(
                     f"SELECT id, property_types, node_type FROM "
                     f"read_parquet('{out_dir}/enriched/*.parquet')"
                 ).fetchall()),
                key=repr,
            ),
        }
    bad = [
        f"{k}: {len(got[k])} rows, expected {len(ref[k])}"
        for k in got if got[k] != ref[k]
    ]
    con.close()
    if not full:
        return bad
    lines = []
    for part in glob.glob(f"{out_dir}/cypher/part-*"):
        with open(part, encoding="utf-8") as f:
            lines += f.read().splitlines()
    n_nodes = len(ref["concept_nodes"]) + len(ref["sheet_nodes"])
    n_edges = len(ref["concept_edges"]) + len(ref["sheet_edges"])
    n_merge = sum(1 for s in lines if s.startswith("MERGE (n:"))
    if (len(lines), n_merge) != (n_nodes + n_edges, n_nodes):
        bad.append(
            f"cypher: {len(lines)} statements ({n_merge} MERGE), "
            f"expected {n_nodes + n_edges} ({n_nodes})"
        )
    return bad


def _components(nodes, neighbours) -> dict:
    """Union-find over an undirected adjacency; label = min member."""
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, bs in neighbours.items():
        for b in bs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


def _scc(nodes, out_edges) -> dict:
    """Iterative Tarjan; label = min member id."""
    index, low, on_stack, stack, comp = {}, {}, set(), [], {}
    counter = 0
    for root in sorted(nodes):
        if root in index:
            continue
        work = [(root, iter(sorted(out_edges.get(root, ()))))]
        index[root] = low[root] = counter
        counter += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(sorted(out_edges.get(w, ())))))
                    advanced = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                label = min(members)
                for w in members:
                    comp[w] = label
    return comp


def _pagerank(edges, iterations: int = 3, damping_pct: int = 85) -> dict:
    """Integer fixed-point PageRank, dangling mass dropped."""
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    base = PAGERANK_SCALE // len(nodes)
    out_deg = defaultdict(int)
    for s, _ in edges:
        out_deg[s] += 1
    pr = {v: base for v in nodes}
    teleport = (100 - damping_pct) * base // 100
    for _ in range(iterations):
        inbound = defaultdict(int)
        for s, d in edges:
            inbound[d] += pr[s] // out_deg[s]
        pr = {v: teleport + damping_pct * inbound[v] // 100 for v in nodes}
    return pr


def analytics_reference(edges_dir: str) -> dict:
    """Expected results of the hierarchy queries over the written
    PARENT_OF edges (src = parent, dst = child): closure and depths by
    recursive CTE, components, SCCs and PageRank in Python."""
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE e AS SELECT CAST(src AS BIGINT) AS src, "
        f"CAST(dst AS BIGINT) AS dst, relationship "
        f"FROM read_parquet('{edges_dir}/*.parquet')"
    )
    closure = con.execute(
        """WITH RECURSIVE clo(node, anc) AS (
             SELECT dst, src FROM e
             UNION
             SELECT c.node, e.src FROM clo c JOIN e ON e.dst = c.anc)
           SELECT node, anc FROM clo"""
    ).fetchall()
    per_node = defaultdict(int)
    for node, _ in closure:
        per_node[node] += 1
    hist = defaultdict(int)
    for k in per_node.values():
        hist[k] += 1
    topo = con.execute(
        """WITH RECURSIVE step(node, d) AS (
             SELECT DISTINCT src, 0 FROM e
             WHERE src NOT IN (SELECT dst FROM e)
             UNION
             SELECT e.dst, s.d + 1 FROM step s JOIN e ON e.src = s.node)
           SELECT node, max(d) FROM step GROUP BY node"""
    ).fetchall()
    motif = con.execute(
        """SELECT e1.src, e1.dst, e2.dst FROM e e1
           JOIN e e2 ON e1.dst = e2.src"""
    ).fetchall()
    edges = [tuple(r) for r in con.execute(
        "SELECT DISTINCT src, dst FROM e").fetchall()]
    con.close()
    # component labels are the minimum id as a STRING (the engine keys
    # graph ids as strings); equal-width ids make that the numeric min
    sid = {v: str(v) for e in edges for v in e}
    undirected = defaultdict(set)
    directed = defaultdict(set)
    for s, d in edges:
        undirected[sid[s]].add(sid[d])
        directed[sid[s]].add(sid[d])
    cc = _components(set(sid.values()), undirected)
    scc = _scc(set(sid.values()), directed)
    pr = _pagerank(edges)
    return {
        "n_edges": len(edges),
        "closure": fingerprint_rows(closure),
        "depth_histogram": sorted(hist.items()),
        "topo_depth": fingerprint_rows(topo),
        "connected_components": fingerprint_rows(
            (int(v), int(c)) for v, c in cc.items()),
        "pagerank": fingerprint_rows(pr.items()),
        "strongly_connected_components": fingerprint_rows(
            (int(v), int(c)) for v, c in scc.items()),
        "two_hop_motif": fingerprint_rows(motif),
    }


def ingest_store_counts(con, dedup_dir: str, pq_dir: str) -> tuple[int, int]:
    """Documents in the stored band index and vectors in the PQ-IVF
    index, read with DuckDB."""
    n_docs = con.execute(
        f"SELECT count(DISTINCT doc) FROM read_parquet('{dedup_dir}/*.parquet')"
    ).fetchone()[0]
    n_vecs = con.execute(
        f"SELECT count(*) FROM read_parquet('{pq_dir}/*.parquet')"
    ).fetchone()[0]
    return int(n_docs), int(n_vecs)

