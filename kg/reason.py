"""KG reasoning/enrichment over linked, canonical facts: bounded
transitive inference, entity-type induction from predicate signatures,
and evidence-combination confidence.

These are the construction steps AFTER linking that the reference's
per-request entity service never needs (it stops at NamedEntity rows,
/root/reference/src/hu_entity/named_entity.py:25-42) but a standing KG
does: materializing implied edges (A located_in B, B located_in C =>
A located_in C), typing entities no gazetteer covered, and collapsing
noisy per-page extractions into a calibrated fact score.

Scale shapes:
- infer_transitive: SEMI-NAIVE Datalog evaluation — each round joins only
  the frontier (pairs first discovered last round) against the base
  relation, anti-joins against the known set, and materializes both, so
  round k does O(|delta_k| * avg_fanout) work instead of re-deriving the
  whole closure, and lineage never grows across rounds (same barrier
  discipline as kg.graphstats.pagerank / label_propagation). All joins are
  keyed equi-joins (mid node, then the pair) — AQE skew handling applies
  to hub nodes; a popularity cap is deliberately NOT applied because the
  closure's output is the product, not a candidate set.
- induce_entity_types: facts x rules is a broadcast join (rules are a
  hand-sized dim), then one partial-agged groupBy + one window argmax
  keyed by entity — two exchanges end-to-end.
- fact_confidence: a single partial-aggregable groupBy on the fact key
  (sum of ln-survivals IS the noisy-or in log space, so no collect and no
  window). Transcendental-derived floats are rounded to 4 places, the
  same grain as kg/ops/lm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kg.session import local_df, materialize

__all__ = [
    "DEFAULT_TYPE_RULES",
    "infer_transitive",
    "transitive_reduction",
    "induce_entity_types",
    "fact_confidence",
    "type_violations",
    "check_cardinality",
    "resolve_functional_conflicts",
    "resolve_pronouns",
    "rewrite_pronoun_triples",
    "DEFAULT_PRONOUN_CATEGORIES",
    "DEFAULT_RDFS_SCHEMA",
    "rdfs_extend_facts",
    "rdfs_types",
    "source_trust",
    "fact_beliefs",
    "apply_rules",
    "mine_rules",
]

_FACT_KEYS = ["subj_id", "pred", "obj_id"]

# (pred, role, etype) predicate-signature typing rules for the synth
# corpus's 8 relations — the default rule dim for induce_entity_types /
# type_violations (callers substitute their ontology's own table).
DEFAULT_TYPE_RULES = [
    ("works_for", "subj", "PERSON"),
    ("works_for", "obj", "ORG"),
    ("ceo_of", "subj", "PERSON"),
    ("ceo_of", "obj", "ORG"),
    ("founded", "subj", "PERSON"),
    ("founded", "obj", "ORG"),
    ("born_in", "subj", "PERSON"),
    ("born_in", "obj", "PLACE"),
    ("located_in", "obj", "PLACE"),
    ("acquired", "subj", "ORG"),
    ("acquired", "obj", "ORG"),
    ("part_of", "subj", "ORG"),
    ("part_of", "obj", "ORG"),
    ("produces", "subj", "ORG"),
    ("produces", "obj", "PRODUCT"),
]


def infer_transitive(
    facts: DataFrame,
    pred: str,
    max_depth: int = 3,
) -> DataFrame:
    """Bounded-depth transitive closure of one predicate, with provenance.

    Input: fact rows carrying (subj_id, pred, obj_id) — e.g. the output
    of :func:`kg.graphstats.fact_evidence` or any linked-triple table.
    Output: one row per (subj_id, obj_id) pair reachable through
    ``pred``-edges in at most ``max_depth`` hops, with ``depth`` = the
    MINIMUM number of hops (1 = asserted, >1 = inferred). Derived
    self-pairs (a, a) are dropped — a cycle never asserts an entity
    relates to itself; asserted self-loops, if any, pass through as
    depth 1. Deterministic for any input partitioning.
    """
    base = materialize(
        facts.where(F.col("pred") == pred)
        .select("subj_id", "obj_id")
        .distinct()
    )
    known = base.withColumn("depth", F.lit(1))
    frontier = base
    for d in range(2, int(max_depth) + 1):
        step = (
            frontier.select("subj_id", F.col("obj_id").alias("_mid"))
            .join(
                base.select(
                    F.col("subj_id").alias("_mid"), "obj_id"
                ),
                "_mid",
            )
            .select("subj_id", "obj_id")
            .where(F.col("subj_id") != F.col("obj_id"))
            .distinct()
            .join(
                known.select("subj_id", "obj_id"),
                ["subj_id", "obj_id"],
                "left_anti",
            )
        )
        step = materialize(step)
        if step.isEmpty():
            break
        known = materialize(
            known.unionByName(step.withColumn("depth", F.lit(d)))
        )
        frontier = step
    return known.select(
        "subj_id",
        F.lit(pred).alias("pred"),
        "obj_id",
        F.col("depth").cast("int").alias("depth"),
    )



def transitive_reduction(
    facts: DataFrame,
    pred: str,
    max_depth: int = 4,
) -> DataFrame:
    """Flag the REDUNDANT edges of one predicate: the inverse of
    :func:`infer_transitive` — instead of materializing implied pairs,
    find asserted edges the rest of the graph already implies. An edge
    (u, v) is redundant iff an ALTERNATE path u -> v of length >= 2
    exists through some mid node (mid != u, v), considering paths up to
    2 * ``max_depth`` hops. On a DAG, dropping the redundant edges is
    the classic transitive reduction (the minimal edge set with the
    same closure) — the ontology-compaction step after Hearst/AMIE
    mining piles shortcut is_a / located_in edges on top of the
    hierarchy. On cycles the rule applies as stated (a 2-cycle's edges
    have no mid node and are kept); reduction uniqueness is a DAG
    property.

    Returns every asserted (subj_id, pred, obj_id) edge with a
    ``redundant`` flag (drop-ready, but the caller keeps provenance).

    Scale shape: one bounded closure (infer_transitive: frontier-only
    semi-naive joins) + ONE closure self-join on the mid node + one
    left join back to the asserted edges. The closure self-join is the
    cost knob — same disposition as infer_transitive's depth: close a
    hub-heavy predicate at small depth or against a filtered subdomain.
    """
    base = materialize(
        facts.where(F.col("pred") == pred)
        .select("subj_id", "obj_id")
        .distinct()
    )
    closure = infer_transitive(facts, pred, max_depth)
    alt = (
        closure.select("subj_id", F.col("obj_id").alias("_mid"))
        .join(
            closure.select(F.col("subj_id").alias("_mid"), "obj_id"),
            "_mid",
        )
        .where(
            (F.col("_mid") != F.col("subj_id"))
            & (F.col("_mid") != F.col("obj_id"))
        )
        .select("subj_id", "obj_id")
        .distinct()
    )
    return (
        base.join(
            alt.withColumn("_r", F.lit(True)), ["subj_id", "obj_id"], "left"
        )
        .select(
            "subj_id",
            F.lit(pred).alias("pred"),
            "obj_id",
            F.coalesce("_r", F.lit(False)).alias("redundant"),
        )
    )


def induce_entity_types(
    linked: DataFrame,
    rules: DataFrame,
) -> DataFrame:
    """Assign each linked entity a type from predicate signatures.

    ``rules`` is a small dim (pred, role, etype) with role in
    {'subj', 'obj'}: e.g. (works_for, subj, PERSON), (works_for, obj,
    ORG). Every fully-or-half-linked triple row casts one vote per
    matching rule for the entity on that side; the entity's type is the
    modal vote (ties broken by type name ascending, so the result is
    deterministic). Returns (entity_id, entity_type, n_votes, n_total)
    where n_total counts all votes the entity received across types —
    n_votes/n_total is the signature purity a KG curator reviews.
    """
    subj_votes = (
        linked.where(F.col("subj_id").isNotNull())
        .select(F.col("subj_id").alias("entity_id"), "pred")
        .join(
            F.broadcast(
                rules.where(F.col("role") == "subj").select("pred", "etype")
            ),
            "pred",
        )
    )
    obj_votes = (
        linked.where(F.col("obj_id").isNotNull())
        .select(F.col("obj_id").alias("entity_id"), "pred")
        .join(
            F.broadcast(
                rules.where(F.col("role") == "obj").select("pred", "etype")
            ),
            "pred",
        )
    )
    votes = (
        subj_votes.unionByName(obj_votes)
        .groupBy("entity_id", "etype")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("entity_id")
    ranked = votes.withColumn(
        "rn",
        F.row_number().over(
            w.orderBy(F.col("n_votes").desc(), F.col("etype"))
        ),
    ).withColumn("n_total", F.sum("n_votes").over(w))
    return ranked.where(F.col("rn") == 1).select(
        "entity_id",
        F.col("etype").alias("entity_type"),
        "n_votes",
        "n_total",
    )


def fact_confidence(
    evidence: DataFrame,
    conf_col: str = "conf",
    max_conf: float = 0.999999,
) -> DataFrame:
    """Combine per-extraction confidences into a per-fact score.

    Treats each evidence row as an independent noisy witness:
    P(fact) = 1 - prod(1 - conf_i), computed in log space
    (sum of ln(1-conf)) so it is a plain partial-aggregable SUM — no
    collect_list buffer, no window, one shuffle. Per-row confidences are
    clamped to ``max_conf`` so a single conf=1.0 row stays finite; a
    clamped row already pushes the noisy-or to 1.0 at the 4-decimal
    output grain. Returns (subj_id, pred, obj_id, n_evidence,
    conf_max, conf_noisy_or) with floats rounded to 4 places (the
    kg/ops/lm.py grain for transcendental-derived values).
    """
    c = F.least(F.col(conf_col).cast("double"), F.lit(float(max_conf)))
    return (
        evidence.where(
            F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()
        )
        .groupBy(*_FACT_KEYS)
        .agg(
            F.count(F.lit(1)).alias("n_evidence"),
            F.round(F.max(c), 4).alias("conf_max"),
            F.round(
                F.lit(1.0) - F.exp(F.sum(F.log(F.lit(1.0) - c))), 4
            ).alias("conf_noisy_or"),
        )
    )


def type_violations(
    facts: DataFrame,
    entity_types: DataFrame,
    rules: DataFrame,
) -> DataFrame:
    """Flag facts whose argument types contradict the predicate signature
    — the KG-curation QA step that catches linker mistakes (a PLACE
    linked where works_for expects an ORG means the alias dictionary
    collided two surfaces).

    ``entity_types`` is (entity_id, entity_type) — typically the output
    of :func:`induce_entity_types` (or a curated registry); ``rules`` is
    the same (pred, role, etype) signature dim. A fact row violates when
    a rule exists for (pred, role) but the linked entity's induced type
    differs; entities with no induced type and predicates with no rule
    are NOT violations (open-world). Returns one row per violating
    (fact, role) with the expected and actual type.

    Scale shape: rules broadcast both times; entity_types is
    entity-keyed and usually small next to facts (broadcast below the
    auto threshold, hash join above — both equi-joins). One union of the
    two role projections; no window, no aggregation.
    """
    et = entity_types.select("entity_id", "entity_type")

    def side(id_col: str, role: str) -> DataFrame:
        return (
            facts.where(F.col(id_col).isNotNull())
            .select(
                "subj_id",
                "pred",
                "obj_id",
                F.col(id_col).alias("entity_id"),
                F.lit(role).alias("role"),
            )
            .join(
                F.broadcast(
                    rules.where(F.col("role") == role).select(
                        "pred", F.col("etype").alias("expected_type")
                    )
                ),
                "pred",
            )
            .join(et, "entity_id")
            .where(F.col("entity_type") != F.col("expected_type"))
        )

    return (
        side("subj_id", "subj")
        .unionByName(side("obj_id", "obj"))
        .select(
            "subj_id",
            "pred",
            "obj_id",
            "role",
            "entity_id",
            "expected_type",
            F.col("entity_type").alias("actual_type"),
        )
    )


def resolve_functional_conflicts(
    facts: DataFrame,
    pred: str,
    key_role: str = "subj",
    evidence_col: str = "n_evidence",
) -> DataFrame:
    """Truth discovery for FUNCTIONAL predicates: when ``pred`` admits at
    most one object per subject (key_role='subj'; e.g. a company has one
    CEO when keyed on the obj side, a person one birthplace keyed on
    subj) but extraction asserted several, keep the best-supported value
    and flag the rest — majority-vote fact fusion, the last QA step
    before publishing a fact table.

    Input is a per-fact table carrying an evidence weight (typically
    :func:`kg.graphstats.fact_evidence` output). Winner per key = max
    ``evidence_col``, ties broken by the smaller opposite-side id
    (deterministic). Returns every ``pred`` row with ``rank`` (1 =
    winner) and ``is_kept``; keys with a single value are rank-1
    trivially, so downstream can filter ``is_kept`` without caring
    whether there was a conflict.

    Scale shape: one window keyed by the functional side — a single
    exchange; no joins, no collect. Hot keys are single-window
    partitions, which is exactly the functional assumption (a key with
    10^6 distinct values signals the predicate is NOT functional — run
    kg.graphstats.predicate_stats first).
    """
    if key_role not in ("subj", "obj"):
        raise ValueError(f"key_role must be subj|obj, got {key_role!r}")
    key = f"{key_role}_id"
    other = "obj_id" if key_role == "subj" else "subj_id"
    rows = facts.where(F.col("pred") == pred)
    w = Window.partitionBy(key).orderBy(
        F.col(evidence_col).desc(), F.col(other)
    )
    return rows.withColumn("rank", F.row_number().over(w)).withColumn(
        "is_kept", (F.col("rank") == 1)
    )


# pronoun -> antecedent category restriction (None = any mention). The
# synth corpus uses the reference's sys.* categories
# (/root/reference/src/hu_entity/named_entity.py:4-22).
DEFAULT_PRONOUN_CATEGORIES: dict[str, tuple[str, ...] | None] = {
    "he": ("sys.person",),
    "she": ("sys.person",),
    "it": ("sys.organization", "sys.places"),
    "they": ("sys.person", "sys.organization"),
}


def resolve_pronouns(
    docs: DataFrame,
    mentions: DataFrame,
    pronoun_categories: dict[str, tuple[str, ...] | None] | None = None,
    id_col: str = "url",
) -> DataFrame:
    """Coref-lite: resolve each pronoun occurrence to the NEAREST
    PRECEDING entity mention of a compatible category in the same
    document — the cheap recall step that turns "She founded Acme" into
    a (person, founded, Acme) triple candidate when the person was named
    a sentence earlier. Heuristic by design (no model): document-local,
    backward-only, category-gated.

    ``docs`` is (id, text); ``mentions`` is the NER output
    (id, value, category, start, end) with char offsets —
    overlap-resolved, so ``end`` values are unique per doc and the
    as-of tie rule never fires. Returns one row per pronoun occurrence:
    (id, start, pron, antecedent, antecedent_category, antecedent_end),
    antecedent columns null when nothing precedes.

    Scale shape: pronoun offsets come from ONE pass over the split-word
    array (a running-offset fold via ``aggregate`` whose accumulator
    keeps the char position plus ONLY the pronoun hits — the array grows
    per pronoun, not per word, so the fold is linear in document length;
    pure JVM, no shuffle). Each distinct category restriction then
    reuses kg.ops.temporal.asof_join, i.e. ONE co-shuffle of
    pronouns+mentions keyed by the doc and a single window — never a
    per-pronoun probe join. Word separators are the single-char [ \\n]
    class, so offset = running sum of word lengths + 1.
    """
    from kg.normalize import PUNCT
    from kg.ops.temporal import asof_join

    rules = (
        DEFAULT_PRONOUN_CATEGORIES
        if pronoun_categories is None
        else pronoun_categories
    )
    base = docs.select(id_col, F.split("text", r"[ \n]").alias("_ws"))
    hit_type = "array<struct<pron:string,start:int>>"

    def _step(acc, w):  # noqa: ANN001
        norm = F.btrim(F.lower(w), F.lit(PUNCT))
        hit = F.struct(
            norm.alias("pron"), acc["p"].cast("int").alias("start")
        )
        return F.struct(
            F.when(
                norm.isin(*rules.keys()),
                F.concat(acc["h"], F.array(hit)),
            )
            .otherwise(acc["h"])
            .alias("h"),
            (acc["p"] + F.length(w) + F.lit(1)).cast("int").alias("p"),
        )

    hits = F.aggregate(
        F.col("_ws"),
        F.struct(
            F.lit([]).cast(hit_type).alias("h"),
            F.lit(0).alias("p"),
        ),
        _step,
    )["h"]
    occ = (
        base.select(id_col, F.explode(hits).alias("z"))
        .select(
            id_col,
            F.col("z.pron").alias("pron"),
            F.col("z.start").alias("start"),
        )
    )
    m = mentions.select(
        id_col,
        F.col("value").alias("antecedent"),
        F.col("category").alias("antecedent_category"),
        F.col("end"),
    )
    # one as-of pass per DISTINCT category restriction (2-3 in practice)
    groups: dict[tuple[str, ...] | None, list[str]] = {}
    for pron, cats in rules.items():
        groups.setdefault(cats, []).append(pron)
    parts = []
    for cats, prons in groups.items():
        right = m if cats is None else m.where(
            F.col("antecedent_category").isin(*cats)
        )
        j = asof_join(
            occ.where(F.col("pron").isin(*prons)),
            right,
            keys=[id_col],
            left_ts="start",
            right_ts="end",
            right_cols=["antecedent", "antecedent_category"],
        )
        parts.append(j)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        id_col,
        "start",
        "pron",
        F.col("r_antecedent").alias("antecedent"),
        F.col("r_antecedent_category").alias("antecedent_category"),
        F.col("r_end").alias("antecedent_end"),
    )


def rewrite_pronoun_triples(
    triples: DataFrame,
    resolutions: DataFrame,
    id_col: str = "url",
) -> DataFrame:
    """Recover facts whose extraction surfaced a pronoun: rewrite a
    triple's pronoun subject/object to the document's resolved
    antecedent ("She founded Acme" + she->Ada Lovelace =>
    (Ada Lovelace, founded, Acme)) so linking can resolve it.

    Conservative by construction: triples carry no span offsets, so a
    pronoun is rewritten ONLY when every resolved occurrence of that
    pronoun in the document agrees on one antecedent (a doc where 'she'
    refers to two different people is left alone). Adds
    ``coref_rewritten`` (0/1/2 = sides rewritten) for downstream
    provenance; non-pronoun triples pass through unchanged.

    Scale shape: the agreement table is one partial-agged groupBy on
    (doc, pronoun) — tiny; both rewrite joins are keyed on
    (doc, pronoun), broadcastable when the resolution table is
    dim-sized, plain hash joins otherwise. No window, no Python.
    """
    from kg.normalize import PUNCT

    agreed = (
        resolutions.where(F.col("antecedent").isNotNull())
        .groupBy(id_col, "pron")
        .agg(
            F.count_distinct("antecedent").alias("_n"),
            F.max("antecedent").alias("antecedent"),
        )
        .where(F.col("_n") == 1)
        .select(id_col, "pron", "antecedent")
    )
    norm = lambda c: F.btrim(F.lower(F.col(c)), F.lit(PUNCT))  # noqa: E731
    s_dim = agreed.select(
        id_col,
        F.col("pron").alias("_s_pron"),
        F.col("antecedent").alias("_s_ante"),
    )
    o_dim = agreed.select(
        id_col,
        F.col("pron").alias("_o_pron"),
        F.col("antecedent").alias("_o_ante"),
    )
    out = (
        triples.withColumn("_s_pron", norm("subj"))
        .withColumn("_o_pron", norm("obj"))
        .join(s_dim, [id_col, "_s_pron"], "left")
        .join(o_dim, [id_col, "_o_pron"], "left")
    )
    return out.select(
        *[c for c in triples.columns if c not in ("subj", "obj")],
        F.coalesce("_s_ante", "subj").alias("subj"),
        F.coalesce("_o_ante", "obj").alias("obj"),
        (
            F.col("_s_ante").isNotNull().cast("int")
            + F.col("_o_ante").isNotNull().cast("int")
        ).alias("coref_rewritten"),
    )


# RDFS-lite schema for the synth corpus's 8 relations: subproperty chains
# (ceo_of < works_for < affiliated_with, part_of < affiliated_with),
# a multi-level class hierarchy, and domain/range signatures — the
# default ontology dim for rdfs_extend_facts / rdfs_types (callers
# substitute their own; the schema is a bounded dim, never corpus-sized).
DEFAULT_RDFS_SCHEMA = [
    ("ceo_of", "subproperty_of", "works_for"),
    ("works_for", "subproperty_of", "affiliated_with"),
    ("part_of", "subproperty_of", "affiliated_with"),
    ("PERSON", "subclass_of", "AGENT"),
    ("ORG", "subclass_of", "AGENT"),
    ("AGENT", "subclass_of", "ENTITY"),
    ("PLACE", "subclass_of", "LOCATION"),
    ("LOCATION", "subclass_of", "ENTITY"),
    ("PRODUCT", "subclass_of", "ENTITY"),
    ("works_for", "domain", "PERSON"),
    ("works_for", "range", "ORG"),
    ("ceo_of", "domain", "PERSON"),
    ("born_in", "domain", "PERSON"),
    ("born_in", "range", "PLACE"),
    ("located_in", "range", "PLACE"),
    ("acquired", "domain", "ORG"),
    ("acquired", "range", "ORG"),
    ("produces", "domain", "ORG"),
    ("produces", "range", "PRODUCT"),
]


def _transitive_pairs(edges: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Driver-side transitive closure of a BOUNDED schema relation
    (ontologies are KB-sized dims; the corpus never enters this loop).
    Returns all (a, b) with a properly below b."""
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    out: set[tuple[str, str]] = set()
    for a in adj:
        stack, seen = list(adj[a]), set()
        while stack:
            b = stack.pop()
            if b in seen:
                continue
            seen.add(b)
            out.add((a, b))
            stack.extend(adj.get(b, ()))
    return sorted(out)


def _schema_rows(
    schema: DataFrame | list[tuple[str, str, str]] | None,
) -> list[tuple[str, str, str]]:
    if schema is None:
        return DEFAULT_RDFS_SCHEMA
    if isinstance(schema, list):
        return schema
    return [tuple(r) for r in schema.collect()]


def rdfs_extend_facts(
    facts: DataFrame,
    schema: DataFrame | list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """RDFS rule rdfs7 materialization: every fact (s, p, o) with
    p subproperty_of+ q also holds as (s, q, o). Returns
    (subj_id, pred, obj_id, rule) with rule = 'asserted' | 'subprop'
    (asserted wins when a derivation coincides with an asserted fact —
    min-rule dedup, deterministic).

    Scale shape: the subproperty closure is computed driver-side over the
    BOUNDED schema dim and broadcast; derivation is one broadcast join
    over the fact table; dedup is one partial-agged groupBy on the fact
    key. The corpus shuffles once.
    """
    rows = _schema_rows(schema)
    sub = _transitive_pairs(
        [(s, o) for s, p, o in rows if p == "subproperty_of"]
    )
    spark = facts.sparkSession
    asserted = facts.select(*_FACT_KEYS).withColumn(
        "rule", F.lit("asserted")
    )
    if sub:
        sup_dim = local_df(spark, sub, "pred string, sup string")
        derived = (
            facts.join(F.broadcast(sup_dim), "pred")
            .select(
                "subj_id",
                F.col("sup").alias("pred"),
                "obj_id",
                F.lit("subprop").alias("rule"),
            )
        )
        asserted = asserted.unionByName(derived)
    return (
        asserted.groupBy(*_FACT_KEYS)
        .agg(F.min("rule").alias("rule"))
    )


def rdfs_types(
    facts: DataFrame,
    schema: DataFrame | list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """RDFS domain/range + subclass entailment (rdfs2/3/9 over the
    subproperty-extended facts): DISTINCT (entity_id, etype) where etype
    is the domain (for subjects) / range (for objects) class of any held
    predicate, closed upward over subclass_of (reflexive: the direct
    class is included).

    Scale shape: both the signature dim and the reflexive subclass
    closure are bounded broadcasts; the corpus-sized work is one union of
    two projections of the extended fact table + ONE distinct shuffle.
    """
    rows = _schema_rows(schema)
    ext = rdfs_extend_facts(facts, rows)
    spark = facts.sparkSession
    sig = [(s, "subj", o) for s, p, o in rows if p == "domain"]
    sig += [(s, "obj", o) for s, p, o in rows if p == "range"]
    if not sig:
        return local_df(spark, [], "entity_id long, etype string")
    sig_dim = local_df(spark, sig, "pred string, role string, etype string")
    classes = {c for s, p, o in rows for c in (s, o)
               if p == "subclass_of"} | {t for _, _, t in sig}
    up = _transitive_pairs(
        [(s, o) for s, p, o in rows if p == "subclass_of"]
    ) + [(c, c) for c in sorted(classes)]
    up_dim = local_df(spark, up, "etype string, sup string")
    base = (
        ext.join(F.broadcast(sig_dim), "pred")
        .select(
            F.when(F.col("role") == "subj", F.col("subj_id"))
            .otherwise(F.col("obj_id"))
            .alias("entity_id"),
            "etype",
        )
    )
    return (
        base.join(F.broadcast(up_dim), "etype")
        .select("entity_id", F.col("sup").alias("etype"))
        .distinct()
    )


def _sums_iterate(
    claims: DataFrame,
    iterations: int,
    source_col: str,
    subj_col: str,
    pred_col: str,
    obj_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared fixed-point loop for :func:`source_trust` /
    :func:`fact_beliefs`: the Sums fact-finder (Pasternack & Roth 2010,
    "Knowing What to Believe" §3 — HITS recast with sources as hubs and
    claims as authorities). Per round, a fact's belief is the sum of its
    asserting sources' trust and a source's trust is the sum of its
    claims' beliefs, each vector max-normalized to keep the recurrence
    bounded. Everything is sums, joins and one scalar max per half-round
    — no transcendentals — so the DuckDB contract oracle unrolls the
    identical recurrence and values agree to the 9-dp rounding (same
    numeric discipline as kg.graphstats.hits).

    The reference service scores nothing (every NamedEntity row is
    emitted flat, /root/reference/src/hu_entity/named_entity.py:25-42);
    a standing KG built from 10^12 crawled pages needs exactly this step
    to arbitrate conflicting (subj, pred, obj) assertions across sources
    of very different reliability.

    Scale shape: each round is two equi-joins claims⋈dim (fact key,
    then source key — both AQE-skew-handled for hub facts/hosts), two
    partial-agged groupBys, and two scalar max aggregates; the trust dim
    is one row per source (hosts, not pages, in production) so it
    broadcasts. materialize() barriers stop lineage growth across
    rounds, the pagerank/hits discipline.
    """
    c = materialize(
        claims.select(
            F.col(source_col).alias("source"),
            F.col(subj_col).alias("subj"),
            F.col(pred_col).alias("pred"),
            F.col(obj_col).alias("obj"),
        ).distinct()
    )
    trust = materialize(
        c.select("source").distinct().withColumn("trust", F.lit(1.0))
    )
    belief = None
    for _ in range(iterations):
        b_raw = (
            c.join(trust.select("source", "trust"), "source")
            .groupBy("subj", "pred", "obj")
            .agg(F.sum("trust").alias("b"), F.count("*").alias("n_sources"))
        )
        b_raw = materialize(b_raw)
        b_max = b_raw.agg(F.max("b")).first()[0]
        belief = materialize(
            b_raw.select(
                "subj",
                "pred",
                "obj",
                "n_sources",
                (F.col("b") / F.lit(b_max)).alias("belief"),
            )
        )
        t_raw = (
            c.join(belief, ["subj", "pred", "obj"])
            .groupBy("source")
            .agg(F.sum("belief").alias("t"), F.count("*").alias("n_claims"))
        )
        t_raw = materialize(t_raw)
        t_max = t_raw.agg(F.max("t")).first()[0]
        trust = materialize(
            t_raw.select(
                "source",
                (F.col("t") / F.lit(t_max)).alias("trust"),
                "n_claims",
            )
        )
    return trust, belief


def source_trust(
    claims: DataFrame,
    iterations: int = 6,
    source_col: str = "source",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Per-source reliability from iterative trust/belief mutual
    reinforcement over conflicting claims (see :func:`_sums_iterate`).
    Returns (source, n_claims, trust) with trust max-normalized to 1.0
    and rounded to 9 places.
    """
    trust, _ = _sums_iterate(
        claims, iterations, source_col, subj_col, pred_col, obj_col
    )
    return trust.select(
        "source", "n_claims", F.round("trust", 9).alias("trust")
    )


def fact_beliefs(
    claims: DataFrame,
    iterations: int = 6,
    source_col: str = "source",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Per-fact belief scores plus the winner flag that truth-finding
    exists to produce: for each (subj, pred) slot the highest-belief
    object(s) get is_best = true (ties at the 9-dp grain all win, so the
    flag is deterministic under float sum reordering). Returns
    (subj, pred, obj, n_sources, belief, is_best).
    """
    _, belief = _sums_iterate(
        claims, iterations, source_col, subj_col, pred_col, obj_col
    )
    w = Window.partitionBy("subj", "pred")
    rounded = F.round("belief", 9)
    return belief.select(
        "subj",
        "pred",
        "obj",
        "n_sources",
        rounded.alias("belief"),
        (rounded == F.max(rounded).over(w)).alias("is_best"),
    )


def apply_rules(
    facts: DataFrame,
    rules: list[tuple],
    rounds: int = 1,
) -> DataFrame:
    """Datalog-lite forward chaining: materialize the head triples of
    Horn rules over the fact table — the generic engine behind the
    specialized entailments this module already ships (rdfs7 subproperty
    = a one-atom rule, transitive closure = a recursive two-atom rule);
    AMIE-style mined rules or hand ontology rules plug in unchanged.

    ``rules``: (rule_id, body, head) with ``body`` a kg.query
    match_pattern atom list and ``head`` a (subj_term, pred_literal,
    obj_term) template whose '?var' terms must be bound by the body.
    ``rounds`` bounds recursion (fixed unroll — same replayability
    choice as infer_transitive): each round matches every rule against
    asserted ∪ previously-derived facts, so a rule whose body names a
    derived predicate chains.

    Dedup semantics: asserted-wins, first-derivation-wins — a triple
    already present (asserted or derived in an earlier round) is never
    re-emitted; within a round, ties across rules keep min(rule_id).
    Returns (subj_id, pred, obj_id, rule_id, round).

    Scale shape: each rule-round is match_pattern's equi-join chain over
    pred-pruned fact slices + one projection; the new-facts anti-join
    and the asserted-wins union both key on the full triple. materialize
    barriers between rounds keep the lineage flat (reliable under a
    checkpoint dir, kg/session.py).
    """
    from kg.query import match_pattern

    def _term(bindings: DataFrame, t, alias: str):
        if isinstance(t, str) and t.startswith("?"):
            return F.col(t[1:]).alias(alias)
        return F.lit(t).alias(alias)

    current = materialize(
        facts.select("subj_id", "pred", "obj_id").distinct()
    )
    out = None
    for rnd in range(1, rounds + 1):
        derived = None
        for rule_id, body, head in rules:
            b = match_pattern(current, body)
            s_t, p_lit, o_t = head
            d = b.select(
                _term(b, s_t, "subj_id"),
                F.lit(p_lit).alias("pred"),
                _term(b, o_t, "obj_id"),
                F.lit(rule_id).alias("rule_id"),
            )
            derived = d if derived is None else derived.unionByName(d)
        fresh = (
            derived.join(current, ["subj_id", "pred", "obj_id"], "left_anti")
            .groupBy("subj_id", "pred", "obj_id")
            .agg(F.min("rule_id").alias("rule_id"))
            .withColumn("round", F.lit(rnd))
        )
        fresh = materialize(fresh)
        out = fresh if out is None else out.unionByName(fresh)
        current = materialize(
            current.unionByName(
                fresh.select("subj_id", "pred", "obj_id")
            )
        )
    return out


def mine_rules(
    facts: DataFrame,
    min_support: int = 2,
    min_conf: float = 0.0,
    mid_cap: int = 0,
) -> DataFrame:
    """AMIE-style Horn-rule mining over the fact table — the inverse of
    apply_rules: instead of materializing given rules, discover which
    rules the KG itself supports, scored with the standard and PCA
    confidences of Galarraga et al. (AMIE, WWW'13). Three closed-rule
    templates (the AMIE length-2/3 shapes that matter in practice):

      same:     p(x, y) <- q(x, y)          (implication / sub-relation)
      inverse:  p(x, y) <- q(y, x)          (inverse relation; q = p
                                             means symmetry)
      chain:    p(x, z) <- q(x, y) & r(y, z) (composition)

    Per candidate rule: ``support`` = #distinct head-variable bindings
    satisfying body AND head; ``body_n`` = #distinct bindings satisfying
    the body; ``conf`` = support / body_n (closed-world); ``pca_n`` =
    #body bindings whose head SUBJECT x asserts the head predicate at
    all, and ``pca_conf`` = support / pca_n — AMIE's partial-completeness
    denominator, which stops an incomplete KG from punishing good rules.
    Mined (body..., head) rows feed apply_rules unchanged.

    Scale shape: facts are distinct triples; the same/inverse templates
    are ONE self-equi-join on the (subj, obj) / (obj, subj) pair key each
    (never cartesian), and every count is a partial-aggregable groupBy on
    the small (pred, pred) rule key. The chain template joins on the mid
    node y — the hub-skew target — so ``mid_cap > 0`` applies the repo's
    count-then-filter discipline on BOTH sides (drop y whose per-side
    degree exceeds the cap BEFORE the join, bounding it at
    y_count * cap^2); contract/oracle runs use mid_cap=0 on a fixture
    whose degrees are hand-sized. Rule candidates are pred-vocabulary
    sized (thousands), never corpus sized, so everything after the joins
    is dim work.

    Returns (template, body1, body2, head, support, body_n, conf,
    pca_n, pca_conf); body2 = '' for the unary-body templates.
    """
    f = facts.select("subj_id", "pred", "obj_id").distinct()
    f = materialize(f)
    # (x, p) pairs for the PCA denominator: does x assert p at all?
    hx = f.select("subj_id", "pred").distinct()
    pred_n = f.groupBy("pred").agg(F.count("*").alias("body_n"))

    def _score(sup: DataFrame, body_n: DataFrame, pca: DataFrame,
               template: str, body2: bool) -> DataFrame:
        keys = ["body1", "body2"] if body2 else ["body1"]
        out = (
            sup.join(body_n, keys)
            .join(pca, keys + ["head"])
            .select(
                F.lit(template).alias("template"),
                F.col("body1"),
                (F.col("body2") if body2 else F.lit("")).alias("body2"),
                F.col("head"),
                F.col("support"),
                F.col("body_n"),
                (F.col("support").cast("double") / F.col("body_n"))
                .alias("conf"),
                F.col("pca_n"),
                (F.col("support").cast("double") / F.col("pca_n"))
                .alias("pca_conf"),
            )
        )
        return out.where(
            (F.col("support") >= min_support) & (F.col("conf") >= min_conf)
        )

    a = f.select(
        F.col("pred").alias("body1"),
        F.col("subj_id").alias("x"),
        F.col("obj_id").alias("y"),
    )
    # -- same: p(x,y) <- q(x,y), q != p ------------------------------
    same_sup = (
        a.join(
            f.select(
                F.col("pred").alias("head"),
                F.col("subj_id").alias("x"),
                F.col("obj_id").alias("y"),
            ),
            ["x", "y"],
        )
        .where(F.col("body1") != F.col("head"))
        .groupBy("body1", "head")
        .agg(F.count("*").alias("support"))
    )
    same_pca = (
        a.join(
            hx.select(F.col("pred").alias("head"),
                      F.col("subj_id").alias("x")),
            "x",
        )
        .where(F.col("body1") != F.col("head"))
        .groupBy("body1", "head")
        .agg(F.count("*").alias("pca_n"))
    )
    same = _score(same_sup, pred_n.withColumnRenamed("pred", "body1"),
                  same_pca, "same", body2=False)

    # -- inverse: p(x,y) <- q(y,x); q = p allowed (symmetry) ---------
    inv_sup = (
        a.join(
            f.select(
                F.col("pred").alias("head"),
                F.col("subj_id").alias("y"),
                F.col("obj_id").alias("x"),
            ),
            ["x", "y"],
        )
        .where(
            (F.col("body1") != F.col("head")) | (F.col("x") != F.col("y"))
        )
        .groupBy("body1", "head")
        .agg(F.count("*").alias("support"))
    )
    # head subject is x = body object -> PCA keys on the body's obj side
    inv_pca = (
        a.join(
            hx.select(F.col("pred").alias("head"),
                      F.col("subj_id").alias("y")),
            "y",
        )
        .groupBy("body1", "head")
        .agg(F.count("*").alias("pca_n"))
    )
    inverse = _score(inv_sup, pred_n.withColumnRenamed("pred", "body1"),
                     inv_pca, "inverse", body2=False)

    # -- chain: p(x,z) <- q(x,y) & r(y,z) ----------------------------
    left = f.select(
        F.col("pred").alias("body1"),
        F.col("subj_id").alias("x"),
        F.col("obj_id").alias("y"),
    )
    right = f.select(
        F.col("pred").alias("body2"),
        F.col("subj_id").alias("y"),
        F.col("obj_id").alias("z"),
    )
    if mid_cap > 0:
        l_deg = left.groupBy("y").agg(F.count("*").alias("ld"))
        r_deg = right.groupBy("y").agg(F.count("*").alias("rd"))
        keep = (
            l_deg.join(r_deg, "y")
            .where((F.col("ld") <= mid_cap) & (F.col("rd") <= mid_cap))
            .select("y")
        )
        left = left.join(F.broadcast(keep), "y")
        right = right.join(F.broadcast(keep), "y")
    # distinct head-variable bindings (x, z) per (q, r) — AMIE counts
    # bindings of the head variables, not body instantiations
    bindings = materialize(
        left.join(right, "y").select("body1", "body2", "x", "z").distinct()
    )
    chain_body = bindings.groupBy("body1", "body2").agg(
        F.count("*").alias("body_n")
    )
    chain_sup = (
        bindings.join(
            f.select(
                F.col("pred").alias("head"),
                F.col("subj_id").alias("x"),
                F.col("obj_id").alias("z"),
            ),
            ["x", "z"],
        )
        .groupBy("body1", "body2", "head")
        .agg(F.count("*").alias("support"))
    )
    chain_pca = (
        bindings.join(
            hx.select(F.col("pred").alias("head"),
                      F.col("subj_id").alias("x")),
            "x",
        )
        .groupBy("body1", "body2", "head")
        .agg(F.count("*").alias("pca_n"))
    )
    chain = _score(chain_sup, chain_body, chain_pca, "chain", body2=True)

    return same.unionByName(inverse).unionByName(chain)


def check_cardinality(
    facts: DataFrame,
    types: DataFrame,
    shapes: DataFrame,
) -> DataFrame:
    """SHACL-lite cardinality validation — the schema-QA complement of
    :func:`type_violations` (that one checks WHO may appear in a
    predicate's slots; this one checks HOW MANY values a typed entity
    must/may carry — sh:minCount / sh:maxCount in SHACL terms).

    ``facts``: (subj, pred, ...) — counted as given, so pass distinct
    (subj, pred, obj) rows to count VALUES or raw evidence rows to
    count assertions. ``types``: (subj, type). ``shapes``:
    (type, pred, min_count, max_count) with max_count NULL = unbounded.

    Returns one row per violated (entity, shape): (subj, type, pred, n,
    min_count, max_count, violation 'missing'|'excess'). Entities
    without a type row and types without shape rows are NOT flagged —
    open-world, the same disposition as type_violations.

    Scale shape: one partial-aggable groupBy over the facts (the only
    corpus-sized shuffle); shapes are a broadcast dim; the expected set
    (typed entities × shapes-per-type) is entity-scale, not fact-scale,
    and the count join is a left join onto it.
    """
    counts = facts.groupBy("subj", "pred").agg(
        F.count(F.lit(1)).alias("_n")
    )
    expected = types.select("subj", "type").distinct().join(
        F.broadcast(
            shapes.select(
                "type",
                "pred",
                F.col("min_count").cast("int").alias("min_count"),
                F.col("max_count").cast("int").alias("max_count"),
            )
        ),
        "type",
    )
    joined = expected.join(counts, ["subj", "pred"], "left").withColumn(
        "n", F.coalesce("_n", F.lit(0)).cast("long")
    )
    return joined.where(
        (F.col("n") < F.col("min_count"))
        | (F.col("max_count").isNotNull()
           & (F.col("n") > F.col("max_count")))
    ).select(
        "subj",
        "type",
        "pred",
        "n",
        "min_count",
        "max_count",
        F.when(F.col("n") < F.col("min_count"), F.lit("missing"))
        .otherwise(F.lit("excess"))
        .alias("violation"),
    )
