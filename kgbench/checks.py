"""Output checks.  Each returns a list of problems; an empty list passes.

The reference for the graph is ``tests/pyoracle.oracle_build_kg``, the
dict-based single-process re-implementation of the insert path.  The
mock extractor works chunk by chunk and chunks never span documents, so
the node-name and edge-pair sets of a document set are the unions of the
sets of its parts; the ingest check unions the oracle's sets for the base
and for the batch, so each document goes through the oracle once.
"""

from __future__ import annotations


def oracle_sets(docs: list[dict], cfg) -> tuple[set, set]:
    """(node names, undirected edge pairs) of the oracle build over ``docs``."""
    from tests.pyoracle import oracle_build_kg

    kg = oracle_build_kg(
        docs,
        tokenizer_kind=cfg.tokenizer_kind,
        chunk_token_size=cfg.chunk_token_size,
        chunk_overlap_token_size=cfg.chunk_overlap_token_size,
        max_gleaning=cfg.max_gleaning,
        run_ts=cfg.run_ts,
        model_min_len=cfg.model_min_len,
    )
    return set(kg["kg_nodes"]), set(kg["kg_edges"])


def graph_sets(nodes_df, edges_df) -> tuple[set, set]:
    names = {r[0] for r in nodes_df.select("entity_name").collect()}
    pairs = {tuple(sorted((r[0], r[1]))) for r in edges_df.select("src", "tgt").collect()}
    return names, pairs


def compare_sets(label: str, got: tuple[set, set], want: tuple[set, set]) -> list[str]:
    out = []
    for kind, g, w in (("nodes", got[0], want[0]), ("edge pairs", got[1], want[1])):
        if g != w:
            out.append(
                f"{label}: {kind} differ from the oracle "
                f"({len(g - w)} extra, {len(w - g)} missing of {len(w)})"
            )
    return out


def check_components(cc_rows, pairs: set) -> list[str]:
    """connected_components' (node, component) against networkx on the
    same edge list: same partition, each labelled by its least node."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(pairs)
    want = {n: min(comp) for comp in nx.connected_components(g) for n in comp}
    got = {r["node"]: r["component"] for r in cc_rows}
    if got != want:
        bad = sum(1 for n in set(got) | set(want) if got.get(n) != want.get(n))
        return [f"connected_components: {bad} of {len(want)} nodes differ from networkx"]
    return []


def check_triangles(tri_rows, pairs: set) -> list[str]:
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(pairs)
    want = nx.triangles(g)
    got = {r["node"]: r["triangles"] for r in tri_rows}
    if got != want:
        return ["triangle_counts: per-node counts differ from networkx"]
    return []


def check_answer(ans: dict, names: set, pairs: set) -> list[str]:
    """A mix answer succeeded and cites only entities and relations of
    the graph it was asked against."""
    if ans.get("status") != "success":
        return [f"query_data: status {ans.get('status')!r}: {ans.get('message')}"]
    data = ans["data"]
    out = []
    missing = [e["entity_name"] for e in data["entities"] if e["entity_name"] not in names]
    if missing:
        out.append(f"query_data: {len(missing)} entities not in the graph")
    rels = [tuple(sorted((r["src_id"], r["tgt_id"]))) for r in data["relationships"]]
    if any(p not in pairs for p in rels):
        out.append("query_data: relations not in the graph")
    if not data["entities"]:
        out.append("query_data: no entities returned")
    return out


def check_subgraph(kg: dict, label: str, names: set, max_nodes: int) -> list[str]:
    """get_knowledge_graph: the start node is returned, nodes exist in the
    committed graph, edges join returned nodes, the budget holds."""
    ids = [n["id"] for n in kg["nodes"]]
    out = []
    if label not in ids:
        out.append(f"get_knowledge_graph({label!r}): start node missing")
    if any(i not in names for i in ids):
        out.append(f"get_knowledge_graph({label!r}): node outside the graph")
    if len(ids) > max_nodes:
        out.append(f"get_knowledge_graph({label!r}): {len(ids)} nodes > budget {max_nodes}")
    idset = set(ids)
    if any(e["source"] not in idset or e["target"] not in idset for e in kg["edges"]):
        out.append(f"get_knowledge_graph({label!r}): edge endpoint outside the node list")
    return out
