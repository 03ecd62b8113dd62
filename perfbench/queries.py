"""The query client's mix: six query classes over the knowledge graph
``run_pipeline`` builds, their seeded Zipf-skewed parameters, and a pandas
evaluation of each query over the same live triples as the reference
answer.

The traffic model is an assumption, not a measurement: no query log of
this program exists, so the classes get equal shares in a fixed
round-robin, and each parameter is drawn with Zipf exponent ``ZIPF_S``
over the graph's own values ranked by frequency. s = 1.1 is a common
stand-in for "a few keys take most lookups"; it is not fitted to any
log. It decides how often the hot conversations are queried, and so
the cost of the conversation-anchored classes.
"""

from __future__ import annotations

import random

import pandas as pd

from tera_spark.constants import NS_KG, RDFS_LABEL

PART_OF = NS_KG + "partOf"
ROLE = NS_KG + "role"
MENTIONS = NS_KG + "mentions"

# Fixed round-robin order: every run issues the same class sequence, so
# the latency median compares like with like across seeds; only the
# parameters are drawn from the seed.
CLASSES = ("label", "conv_bgp", "entity_turns", "mention_counts", "ask", "construct")
ZIPF_S = 1.1


def _ranked(values: pd.Series) -> list[str]:
    """Distinct values, most frequent first (ties by value)."""
    n = values.value_counts().sort_index().sort_values(ascending=False, kind="stable")
    return list(n.index)


def _zipf_pick(rng: random.Random, ranked: list[str]) -> str:
    weights = [1.0 / (i + 1) ** ZIPF_S for i in range(len(ranked))]
    return rng.choices(ranked, weights)[0]


def plan(graph: pd.DataFrame, seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` queries cycling through CLASSES, parameters drawn
    Zipf-skewed from the graph's own values, busiest first: conversations
    by turns, labels by their entity's mentions. Entities are named by
    label: many entity IRIs hold spaces, which a SPARQL IRI cannot."""
    convs = _ranked(graph[graph["predicate"] == PART_OF]["object"])
    entities = _ranked(graph[graph["predicate"] == MENTIONS]["object"])
    rank = {e: i for i, e in enumerate(entities)}
    lab = graph[graph["predicate"] == RDFS_LABEL]
    lab = lab.assign(_r=lab["subject"].map(rank).fillna(len(rank)))
    labels = list(lab.sort_values(["_r", "object"])["object"].drop_duplicates())
    pools = {
        "label": labels, "conv_bgp": convs, "entity_turns": labels,
        "mention_counts": [""], "ask": convs, "construct": convs,
    }
    rng = random.Random(f"queries:{seed}")
    return [(c, _zipf_pick(rng, pools[c])) for c in (CLASSES * n)[:n]]


def _literal(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def sparql_text(cls: str, p: str) -> str | None:
    if cls == "conv_bgp":
        return f"SELECT ?t ?r WHERE {{ ?t <{PART_OF}> <{p}> . ?t <{ROLE}> ?r }}"
    if cls == "entity_turns":
        return (f"SELECT ?t ?c WHERE {{ ?e <{RDFS_LABEL}> {_literal(p)} . "
                f"?t <{MENTIONS}> ?e . ?t <{PART_OF}> ?c }}")
    if cls == "mention_counts":
        return f"SELECT ?e (COUNT(?t) AS ?n) WHERE {{ ?t <{MENTIONS}> ?e }} GROUP BY ?e"
    if cls == "ask":
        return f'ASK {{ ?t <{PART_OF}> <{p}> . ?t <{ROLE}> {_literal("tool")} }}'
    if cls == "construct":
        return f"CONSTRUCT {{ ?t ?p ?o }} WHERE {{ ?t <{PART_OF}> <{p}> . ?t ?p ?o }}"
    return None


def build_query(graph_df, cls: str, p: str):
    """The program's lazy DataFrame for one query: SPARQL for five
    classes, the GraphAPI facade for the label lookup."""
    from tera_spark.operators.api import GraphAPI
    from tera_spark.operators.sparql import query_graph

    q = sparql_text(cls, p)
    if q is not None:
        return query_graph(graph_df, q)
    return GraphAPI(graph_df, NS_KG).query_label(p)


def answer(rows, cls: str) -> frozenset:
    """A program result (collected rows) as a comparable set."""
    if cls == "ask":
        return frozenset([bool(rows[0][0])])
    return frozenset(tuple(r) for r in rows)


class Reference:
    """Expected answers, computed with pandas over the same triples."""

    def __init__(self, g: pd.DataFrame):
        self.g = g
        iri = g[~g["obj_is_literal"]]
        self.part = iri[iri["predicate"] == PART_OF][["subject", "object"]]
        self.ment = iri[iri["predicate"] == MENTIONS][["subject", "object"]]
        lit = g[g["obj_is_literal"]]
        self.role = lit[lit["predicate"] == ROLE][["subject", "object"]]

    def _labelled(self, label: str) -> set[str]:
        g = self.g
        return set(g[(g["predicate"] == RDFS_LABEL) & (g["object"] == label)]["subject"])

    def answer(self, cls: str, p: str) -> frozenset:
        g, part = self.g, self.part
        if cls == "label":
            return frozenset((s,) for s in self._labelled(p))
        if cls == "conv_bgp":
            j = part[part["object"] == p][["subject"]].merge(self.role, on="subject")
            return frozenset(zip(j["subject"], j["object"]))
        if cls == "entity_turns":
            j = self.ment[self.ment["object"].isin(self._labelled(p))][["subject"]]
            j = j.merge(part, on="subject")
            return frozenset(zip(j["subject"], j["object"]))
        if cls == "mention_counts":
            n = self.ment.groupby("object")["subject"].count()
            return frozenset((e, int(k)) for e, k in n.items())
        if cls == "ask":
            turns = set(part[part["object"] == p]["subject"])
            tool_role = set(self.role[self.role["object"] == "tool"]["subject"])
            return frozenset([bool(turns & tool_role)])
        if cls == "construct":
            turns = set(part[part["object"] == p]["subject"])
            hit = g[g["subject"].isin(turns)]
            return frozenset(
                (r.subject, r.predicate, r.object, bool(r.obj_is_literal))
                for r in hit.itertuples(index=False)
            )
        raise ValueError(cls)
