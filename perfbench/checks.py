"""Correctness checks of a ``run_pipeline`` output directory, made with
pandas over the written files (no Spark)."""

from __future__ import annotations

import os

import pandas as pd

from harness import TRIPLE_COLS, fingerprint, read_table
from tera_spark.constants import NS_KG, RDF_TYPE, RDFS_LABEL


def check_build(out: str, corpus: pd.DataFrame, stage_metrics: list[dict]) -> list[str]:
    """Problems found in the graph at ``out`` built from ``corpus``:

    - the triple table is a set;
    - ``nodes``, ``edges`` and ``ent_index`` are what their definitions
      derive from the triples;
    - every stage's reported row count is the rows it wrote;
    - every input conversation has its Conversation node;
    - canonicalization rewrote every alias-edge source out of the graph.
    """
    problems = []
    tables = {s: read_table(os.path.join(out, s)) for s in
              ("triples", "nodes", "edges", "ent_index", "alias_edges")}
    t = tables["triples"][TRIPLE_COLS]
    if t.duplicated(["subject", "predicate", "object"]).any():
        problems.append("triples has duplicate (s, p, o) rows")

    tl = t[t["predicate"].isin([RDF_TYPE, RDFS_LABEL])]
    kinds = tl[tl["predicate"] == RDF_TYPE].groupby("subject")["object"].min()
    labels = tl[tl["predicate"] == RDFS_LABEL].groupby("subject")["object"].min()
    nodes = pd.DataFrame({"kind": kinds}).join(labels.rename("label")).reset_index()
    nodes = nodes.rename(columns={"subject": "id"})
    if fingerprint(nodes, ["id", "kind", "label"]) != fingerprint(
        tables["nodes"], ["id", "kind", "label"]
    ):
        problems.append("nodes differ from the type/label rows of triples")

    e = t[~t["obj_is_literal"]].rename(
        columns={"subject": "src", "predicate": "pred", "object": "dst"})
    if fingerprint(e, ["src", "pred", "dst"]) != fingerprint(
        tables["edges"], ["src", "pred", "dst"]
    ):
        problems.append("edges differ from the IRI-object rows of triples")

    key = ["subject", "predicate", "object"]
    idx = tables["ent_index"][key].merge(t[key], on=key, how="left", indicator=True)
    if (idx["_merge"] != "both").any():
        problems.append("ent_index has rows that are not in triples")

    for m in stage_metrics:
        n = len(read_table(os.path.join(out, m["stage"])))
        if n != m["rows_out"]:
            problems.append(f"stage {m['stage']} reported {m['rows_out']} rows, wrote {n}")

    convs = t[(t["predicate"] == RDF_TYPE) & (t["object"] == NS_KG + "Conversation")]
    if len(convs) != corpus["conv_id"].nunique():
        problems.append(
            f"{len(convs)} Conversation nodes for {corpus['conv_id'].nunique()} conversations")

    sources = set(tables["alias_edges"]["u"])
    left = sources & (set(t["subject"]) | set(t.loc[~t["obj_is_literal"], "object"]))
    if left:
        problems.append(f"{len(left)} alias-edge sources left in the graph")
    return problems


def _turn(df: pd.DataFrame) -> pd.Series:
    return NS_KG + "turn/" + df["conv_id"] + "/" + df["turn_idx"].astype(str)


def _triples(s, p, o, lit: bool) -> pd.DataFrame:
    n = len(s)
    return pd.DataFrame({
        "subject": list(s), "predicate": [p] * n if isinstance(p, str) else list(p),
        "object": list(o), "obj_is_literal": [lit] * n,
    })


def _same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    want = want.drop_duplicates()
    return fingerprint(got, TRIPLE_COLS) == fingerprint(want, TRIPLE_COLS)


def check_content(out: str, corpus: pd.DataFrame) -> list[str]:
    """Problems in what the graph at ``out`` says, against what pandas
    derives from ``corpus`` and from the program's own ``linked`` and
    ``canonical_map`` stage tables:

    - the ``mentions`` table holds, for every turn, the mentions the
      extractor's pure per-text function finds in it;
    - the conversation/turn skeleton (Conversation and Turn types,
      ``partOf``, ``role``, ``tool``) is exactly the corpus's;
    - the ``mentions``, entity-type and label triples are exactly those
      the linked rows give once each entity is rewritten to its canonical
      representative.
    """
    from tera_spark.pipeline.extract import _mentions_of

    problems = []
    t = read_table(os.path.join(out, "triples"))[TRIPLE_COLS]
    cols = ["conv_id", "turn_idx", "role", "mention", "kind", "value", "unit", "pos"]
    found = corpus.assign(_m=corpus["text"].map(_mentions_of)).explode("_m").dropna(subset=["_m"])
    want = pd.DataFrame(found["_m"].tolist(), columns=cols[3:], index=found.index)
    want = pd.concat([found[cols[:3]], want], axis=1)
    if fingerprint(read_table(os.path.join(out, "mentions")), cols) != fingerprint(want, cols):
        problems.append("mentions differ from the extractor's mentions of the corpus")

    conv = NS_KG + "conv/" + corpus["conv_id"]
    turn = _turn(corpus)
    tool = corpus["tool"].notna()
    skeleton = pd.concat([
        _triples(conv, RDF_TYPE, [NS_KG + "Conversation"] * len(conv), False),
        _triples(turn, RDF_TYPE, [NS_KG + "Turn"] * len(turn), False),
        _triples(turn, NS_KG + "partOf", conv, False),
        _triples(turn, NS_KG + "role", corpus["role"], True),
        _triples(turn[tool], NS_KG + "tool", corpus.loc[tool, "tool"], True),
    ])
    struct = t["predicate"].isin([NS_KG + "partOf", NS_KG + "role", NS_KG + "tool"]) | (
        (t["predicate"] == RDF_TYPE) & t["object"].isin([NS_KG + "Conversation", NS_KG + "Turn"]))
    if not _same(t[struct], skeleton):
        problems.append("conversation/turn triples differ from the corpus")

    linked = read_table(os.path.join(out, "linked"))
    cmap = read_table(os.path.join(out, "canonical_map")).set_index("old")["new"]
    m = linked[linked["entity"].notna() & (linked["kind"] != "quantity")]
    rep = m["entity"].map(cmap).fillna(m["entity"])
    kinds = {k: NS_KG + c for k, c in
             (("chemical", "Chemical"), ("species", "Species"), ("endpoint", "Endpoint"))}
    cls = m["entity_kind"].map(kinds).fillna(NS_KG + "Entity")
    lab = m["link_method"].isin(["exact", "rule", "provisional"]) & m["mention"].notna()
    checks = [
        ("mentions", t["predicate"] == NS_KG + "mentions",
         _triples(_turn(m), NS_KG + "mentions", rep, False)),
        ("entity-type", (t["predicate"] == RDF_TYPE) & t["object"].isin(
            [*kinds.values(), NS_KG + "Entity"]), _triples(rep, RDF_TYPE, cls, False)),
        ("label", t["predicate"] == RDFS_LABEL,
         _triples(rep[lab], RDFS_LABEL, m.loc[lab, "mention"], True)),
    ]
    for name, sel, want in checks:
        if not _same(t[sel], want):
            problems.append(f"{name} triples differ from the linked rows under the canonical map")
    return problems
