"""Property-based FHIR encode/decode round-trip (SURVEY.md §5.4):
hypothesis-generated resources with random sparse field subsets, partial
dates, choice variants, and nested extensions must regenerate exactly
(README.md:11-13 losslessness)."""

import pytest
import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from parquet_on_fhir_spark.fhir import encode_ndjson, to_fhir_json

names = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll")), min_size=1, max_size=12
)
partial_dates = st.one_of(
    st.integers(1900, 2099).map(lambda y: f"{y:04d}"),
    st.tuples(st.integers(1900, 2099), st.integers(1, 12)).map(
        lambda t: f"{t[0]:04d}-{t[1]:02d}"
    ),
    st.tuples(st.integers(1900, 2099), st.integers(1, 12), st.integers(1, 28)).map(
        lambda t: f"{t[0]:04d}-{t[1]:02d}-{t[2]:02d}"
    ),
)
# JSON decimals rendered with explicit precision (round-trip compares the
# parsed python value, so plain floats with short reprs are the honest case)
decimals = st.integers(-10**6, 10**6).map(lambda n: n / 100.0)

extension = st.fixed_dictionaries(
    {"url": st.just("http://example.org/ext")},
    optional={
        "valueString": names,
        "valueDecimal": decimals,
        "valueCode": names,
    },
)


@st.composite
def patients(draw, i):
    p = {"resourceType": "Patient", "id": f"p{i}"}
    if draw(st.booleans()):
        p["gender"] = draw(st.sampled_from(["male", "female", "other"]))
    if draw(st.booleans()):
        p["birthDate"] = draw(partial_dates)
    # choice type: at most one variant
    variant = draw(st.sampled_from(["none", "bool", "int"]))
    if variant == "bool":
        p["multipleBirthBoolean"] = draw(st.booleans())
    elif variant == "int":
        p["multipleBirthInteger"] = draw(st.integers(0, 5))
    if draw(st.booleans()):
        p["name"] = draw(
            st.lists(
                st.fixed_dictionaries(
                    {},
                    optional={
                        "family": names,
                        "given": st.lists(names, min_size=1, max_size=3),
                    },
                ).filter(lambda d: d),
                min_size=1,
                max_size=3,
            )
        )
    if draw(st.booleans()):
        p["extension"] = draw(st.lists(extension, min_size=1, max_size=3))
    return p


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.data())
def test_random_sparse_patients_roundtrip(spark, tmp_path_factory, data):
    rows = [data.draw(patients(i)) for i in range(data.draw(st.integers(1, 6)))]
    d = str(tmp_path_factory.mktemp("fhir_fuzz"))
    with open(f"{d}/p.ndjson", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    df = encode_ndjson(spark, f"{d}/p.ndjson", resource_type="Patient")
    back = sorted(
        (json.loads(r.json) for r in to_fhir_json(df).collect()),
        key=lambda x: x["id"],
    )
    assert back == sorted(rows, key=lambda x: x["id"])


# --- lexical decimal preservation (round-2 losslessness contract) -------------------
decimal_tokens = st.one_of(
    # trailing zeros, high precision, exponents — the lexical forms a
    # float round-trip would destroy
    st.tuples(st.integers(0, 999), st.integers(1, 6)).map(
        lambda t: f"{t[0]}." + "0" * t[1]
    ),
    st.tuples(st.integers(1, 999), st.text("0123456789", min_size=1, max_size=20)).map(
        lambda t: f"{t[0]}.{t[1]}"
    ),
    st.integers(-999, 999).map(lambda n: f"{n}e2"),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.data())
def test_quantity_decimal_lexical_roundtrip(spark, tmp_path_factory, data):
    """valueQuantity.value regenerates with its exact lexical text —
    including trailing zeros and >double precision — as a JSON number."""
    toks = [data.draw(decimal_tokens) for _ in range(data.draw(st.integers(1, 5)))]
    d = str(tmp_path_factory.mktemp("fhir_fuzz_dec"))
    with open(f"{d}/o.ndjson", "w") as f:
        for i, tok in enumerate(toks):
            # raw line assembly: json.dumps would normalize the number
            f.write(
                '{"resourceType":"Observation","id":"o%d",'
                '"valueQuantity":{"value":%s,"unit":"u"}}\n' % (i, tok)
            )
    df = encode_ndjson(spark, f"{d}/o.ndjson", resource_type="Observation")
    out = {
        json.loads(r.json)["id"]: r.json for r in to_fhir_json(df).collect()
    }
    for i, tok in enumerate(toks):
        j = out[f"o{i}"]
        assert f'"value":{tok},' in j or f'"value":{tok}}}' in j, (tok, j)
        assert f'"value":"{tok}"' not in j  # a number, not a string


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.data())
def test_paired_primitive_array_roundtrip(spark, tmp_path_factory, data):
    """given/_given index alignment survives arbitrary null placements
    (at least one live element per array)."""
    n = data.draw(st.integers(1, 4))
    given = [data.draw(st.one_of(st.none(), names)) for i in range(n)]
    ext = {"extension": [{"url": "http://x/e", "valueCode": "c"}]}
    under = [data.draw(st.one_of(st.none(), st.just(ext))) for i in range(n)]
    # keep each array alive, and avoid (null, null) twin slots which the
    # sparse regeneration rule legitimately prunes
    if all(g is None for g in given):
        given[0] = "Live"
    if all(u is None for u in under):
        under[-1] = ext
    for i in range(n):
        if given[i] is None and under[i] is None:
            given[i] = "Fill"
    rows = [{"resourceType": "Patient", "id": "p0",
             "name": [{"given": given, "_given": under}]}]
    d = str(tmp_path_factory.mktemp("fhir_fuzz_pair"))
    with open(f"{d}/p.ndjson", "w") as f:
        f.write(json.dumps(rows[0]) + "\n")
    df = encode_ndjson(spark, d, resource_type="Patient")
    back = [json.loads(r.json) for r in to_fhir_json(df).collect()]
    assert back == rows


@st.composite
def registry_docs(draw, i):
    """Random sparse documents for the round-6 registry tiers — decimal
    placement (VisionPrescription.sphere, TestReport.score,
    adjudication.value), deep backbones (CapabilityStatement.rest,
    Contract.term.offer), and 0..1-vs-array identifier irregularities."""
    kind = draw(st.sampled_from(["VisionPrescription", "TestReport",
                                 "ClaimResponse", "RiskAssessment"]))
    doc = {"resourceType": kind, "id": f"z{i}"}
    if kind == "VisionPrescription":
        doc["status"] = "active"
        spec = {"eye": draw(st.sampled_from(["right", "left"]))}
        if draw(st.booleans()):
            spec["sphere"] = draw(decimals)
        if draw(st.booleans()):
            spec["cylinder"] = draw(decimals)
        if draw(st.booleans()):
            spec["prism"] = [{"amount": draw(decimals), "base": "up"}]
        doc["lensSpecification"] = [spec]
    elif kind == "TestReport":
        doc["status"] = "completed"
        doc["result"] = draw(st.sampled_from(["pass", "fail"]))
        if draw(st.booleans()):
            doc["score"] = draw(decimals)
        if draw(st.booleans()):
            doc["test"] = [{"name": draw(names),
                            "action": [{"assert": {"result": "pass"}}]}]
    elif kind == "ClaimResponse":
        doc["status"] = "active"
        doc["outcome"] = "complete"
        item = {"itemSequence": draw(st.integers(1, 9))}
        if draw(st.booleans()):
            adj = {"category": {"text": draw(names)}}
            if draw(st.booleans()):
                adj["value"] = draw(decimals)
            item["adjudication"] = [adj]
        doc["item"] = [item]
    else:  # RiskAssessment
        doc["status"] = "final"
        pred = {}
        if draw(st.booleans()):
            pred["probabilityDecimal"] = draw(
                st.integers(0, 1000).map(lambda n: n / 1000.0)
            )
        if draw(st.booleans()):
            pred["relativeRisk"] = draw(decimals)
        if pred:
            doc["prediction"] = [pred]
    return doc


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.data())
def test_random_registry_tier_roundtrip(spark, tmp_path_factory, data):
    import collections

    rows = [data.draw(registry_docs(i)) for i in range(data.draw(st.integers(1, 5)))]
    by_type = collections.defaultdict(list)
    for r in rows:
        by_type[r["resourceType"]].append(r)
    for rtype, docs in by_type.items():
        d = str(tmp_path_factory.mktemp("fhir_fuzz_r6"))
        with open(f"{d}/r.ndjson", "w") as f:
            for doc in docs:
                f.write(json.dumps(doc) + "\n")
        df = encode_ndjson(spark, d, resource_type=rtype)
        back = sorted(
            (json.loads(r.json) for r in
             to_fhir_json(df, resource_type=rtype).collect()),
            key=lambda x: x["id"],
        )
        assert back == sorted(docs, key=lambda x: x["id"]), rtype


# --- ECL differential fuzz: engine vs a pure-Python reference evaluator -------------
_ECL_UNI = ["body", "limb", "arm", "hand", "leg", "foot", "organ", "heart"]
_ECL_DESC = {
    "body": {"limb", "arm", "hand", "leg", "foot", "organ", "heart"},
    "limb": {"arm", "hand", "leg", "foot"},
    "arm": {"hand"},
    "leg": {"foot"},
    "organ": {"heart"},
}
_ECL_PROPS = {
    "body": [("status", "active")],
    "limb": [("status", "active")],
    "arm": [("status", "active"), ("laterality", "paired")],
    "hand": [("status", "retired")],
    "leg": [("status", "active"), ("laterality", "paired")],
    "foot": [("status", "active")],
    "organ": [("status", "active")],
    "heart": [("status", "active")],
}


def _norm_ref(ref):
    """Accept the legacy 2-tuple (attr, vnode), the r9 4-tuple
    (card, rev, attr, vnode) and the r12 5-tuple (card, rev, attr, op,
    vnode) refinement shapes — normalized to the 5-tuple."""
    if len(ref) == 2:
        ref = (None, False) + tuple(ref)
    if len(ref) == 4:
        ref = ref[:3] + ("=",) + ref[3:]
    return ref


def _val_ok(op, vnode, uni, desc, props):
    """Value predicate for one refinement: numeric '#' literals compare
    the property value as a number (non-numeric never matches), concept
    values support = and != (None never matches !=)."""
    if vnode[0] == "num":
        x = vnode[1]

        def ok(v):
            try:
                f = float(v)
            except (TypeError, ValueError):
                return False
            return {
                "=": f == x, "!=": f != x, "<": f < x,
                "<=": f <= x, ">": f > x, ">=": f >= x,
            }[op]

        return ok
    if vnode[0] == "focus" and vnode[1] is None:
        t = vnode[2]
        if op == "=":
            return lambda v: v == t
        return lambda v: v is not None and v != t
    vals = _ecl_ref_eval(vnode, uni, desc, props)
    if op == "=":
        return lambda v: v in vals
    return lambda v: v is not None and v not in vals


def _attr_ok(attr, uni, desc, props):
    """Attribute-name predicate: '*' matches any property code, a token
    matches literally, an AST tuple (r11 expression-valued attribute)
    matches property codes in the evaluated concept set."""
    if attr == "*":
        return lambda p: True
    if isinstance(attr, tuple):
        names = _ecl_ref_eval(attr, uni, desc, props)
        return lambda p: p in names
    return lambda p: p == attr


def _ecl_ref_eval(node, uni=None, desc=None, props=None):
    """Reference ECL semantics over a (uni, desc, props) fixture in
    plain Python — defaults to the anatomy2 tree."""
    uni = set(_ECL_UNI if uni is None else uni)
    desc = _ECL_DESC if desc is None else desc
    props = _ECL_PROPS if props is None else props
    kind = node[0]
    if kind == "any":
        return uni
    if kind == "anyprefixed":
        # r11 prefixed wildcard: '<'/'<!' = any concept with an
        # ancestor/parent (the same set — every descendant has a direct
        # parent), '>'/'>!' = any with a descendant/child, '<<'/'>>' =
        # the universe
        prefix = node[1]
        if prefix in ("<<", ">>"):
            return uni
        if prefix in ("<", "<!"):
            return {c for ds in desc.values() for c in ds} & uni
        return {a for a, ds in desc.items() if ds} & uni
    if kind == "focus":
        _, prefix, code = node
        anchor = {code} & uni
        if prefix is None:
            return anchor
        if prefix in ("<!", ">!"):
            # direct edges derived from the transitive map: c is a
            # direct child of p iff no intermediate m separates them
            def direct(p, c):
                return c in desc.get(p, set()) and not any(
                    c in desc.get(m, set()) for m in desc.get(p, set())
                )

            if prefix == "<!":
                return {c for c in desc.get(code, set()) if direct(code, c)}
            return {p for p in desc if direct(p, code)}
        if prefix in ("<", "<<"):
            rel = set(desc.get(code, set()))
        else:
            rel = {a for a, ds in desc.items() if code in ds}
        return rel | anchor if prefix in ("<<", ">>") else rel
    if kind == "dot":
        base = _ecl_ref_eval(node[1], uni, desc, props)
        attr = node[2]
        return {
            v
            for c in base
            for p, v in props.get(c, [])
            if attr == "*" or p == attr
        } & uni
    if kind == "refine":
        base = _ecl_ref_eval(node[1], uni, desc, props)
        refs = node[2]
        if isinstance(refs, list):  # legacy conjunction list
            refs = ("rAND", refs) if len(refs) != 1 else refs[0]
        return base & _ref_set(refs, uni, desc, props)
    a = _ecl_ref_eval(node[1], uni, desc, props)
    b = _ecl_ref_eval(node[2], uni, desc, props)
    return {"AND": a & b, "OR": a | b, "MINUS": a - b}[kind]


def _ref_set(ref, uni, desc, props):
    """Universe-relative matching set of one refinement-tree node
    (r12): rAND/rOR combine by ∩/∪, 'grp' is the self-grouped
    attribute-group set, leaves are single refinements (cardinality
    evaluated over the whole universe, zero counts included)."""
    uni = set(uni)
    if ref[0] in ("rAND", "rOR"):
        sets = [_ref_set(i, uni, desc, props) for i in ref[1]]
        return (
            set.intersection(*sets) if ref[0] == "rAND" else set.union(*sets)
        )
    if ref[0] == "grp":
        # r10/r11 attribute group: with self-grouped (ungrouped
        # R4) data the group IS the assertion — a concept
        # matches iff ONE assertion satisfies every member.
        # Members bind (fcode, assertion-id): forward members
        # have fcode = the assertion's source, reverse members
        # (r11) its VALUE; within-group cardinality (r11)
        # counts matches per group (0 or 1 under
        # self-grouping), so [0..0] keeps non-matching groups.
        assertions = [
            (s, i, p, v)
            for s in uni
            for i, (p, v) in enumerate(props.get(s, []))
        ]
        member_sets = []
        for mref in ref[1]:
            card, rev, attr, op, vnode = _norm_ref(mref)
            aok = _attr_ok(attr, uni, desc, props)
            vok = _val_ok(op, vnode, uni, desc, props)
            if rev:
                sat = {
                    (v, s, i)
                    for (s, i, p, v) in assertions
                    if aok(p) and vok(s)
                }
            else:
                sat = {
                    (s, s, i)
                    for (s, i, p, v) in assertions
                    if aok(p) and vok(v)
                }
            if card is not None:
                lo, hi = card
                pieces = set()
                if lo <= 1 and (hi is None or hi >= 1):
                    pieces |= sat
                if lo == 0:
                    # r12: a reverse member's group universe is
                    # every assertion crossed with every focus
                    univ = (
                        {
                            (f, s, i)
                            for f in uni
                            for (s, i, _, _) in assertions
                        }
                        if rev
                        else {(s, s, i) for (s, i, _, _) in assertions}
                    )
                    pieces |= univ - sat
                sat = pieces
            member_sets.append(sat)
        joint = set.intersection(*member_sets)
        return {f for f, _, _ in joint}
    card, rev, attr, op, vnode = _norm_ref(ref)
    aok = _attr_ok(attr, uni, desc, props)
    ok = _val_ok(op, vnode, uni, desc, props)

    def count(c):
        if rev:
            return sum(
                1
                for s in uni
                for p, v in props.get(s, [])
                if aok(p) and v == c and ok(s)
            )
        return sum(1 for p, v in props.get(c, []) if aok(p) and ok(v))

    lo, hi = card if card is not None else (1, None)
    return {
        c for c in uni if lo <= count(c) and (hi is None or count(c) <= hi)
    }


def _ecl_render(node):
    kind = node[0]
    if kind == "any":
        return "*"
    if kind == "anyprefixed":
        return f"{node[1]} *"
    if kind == "focus":
        _, prefix, code = node
        term = f" |{code} structure|" if len(code) % 2 == 0 else ""
        return f"{prefix or ''} {code}{term}".strip()
    if kind == "dot":
        return f"({_ecl_render(node[1])}) . {node[2]}"
    if kind == "refine":

        def render_one(ref):
            card, rev, attr, op, v = _norm_ref(ref)
            cs_ = (
                f"[{card[0]}..{'*' if card[1] is None else card[1]}] "
                if card is not None
                else ""
            )
            rv = "R " if rev else ""
            at = (
                f"({_ecl_render(attr)})"
                if isinstance(attr, tuple)
                else attr
            )
            if v[0] == "num":
                val = f"#{v[1]:g}"
            elif v[0] == "focus" and v[1] is None:
                val = v[2]
            else:
                val = f"({_ecl_render(v)})"
            return f"{cs_}{rv}{at} {op} {val}"

        def render_ref(ref):
            if ref[0] == "rAND" or ref[0] == "rOR":
                sep = " AND " if ref[0] == "rAND" else " OR "
                return "( " + sep.join(render_ref(i) for i in ref[1]) + " )"
            if ref[0] == "grp":
                inner = " , ".join(render_one(r) for r in ref[1])
                return "{ " + inner + " }"
            return render_one(ref)

        refs = node[2]
        if isinstance(refs, list):  # legacy conjunction list
            rendered = " , ".join(render_ref(r) for r in refs)
        else:
            rendered = render_ref(refs)
        return f"({_ecl_render(node[1])}) : {rendered}"
    return f"({_ecl_render(node[1])}) {kind} ({_ecl_render(node[2])})"


def _ecl_terms():
    codes = st.sampled_from(_ECL_UNI + ["ghost"])
    prefixes = st.sampled_from([None, "<", "<<", ">", ">>", "<!", ">!"])
    wild = st.sampled_from(["<", "<<", ">", ">>", "<!", ">!"])
    return st.one_of(
        st.just(("any",)),
        st.tuples(st.just("anyprefixed"), wild),
        st.tuples(st.just("focus"), prefixes, codes),
    )


def _ecl_exprs(depth=2):
    if depth == 0:
        return _ecl_terms()
    sub = _ecl_exprs(depth - 1)
    refinement = st.tuples(
        st.sampled_from(["status", "laterality", "site", "*"]),
        st.one_of(
            st.tuples(
                st.just("focus"),
                st.just(None),
                st.sampled_from(["active", "retired", "paired", "arm"]),
            ),
            _ecl_terms(),
        ),
    )
    return st.one_of(
        sub,
        st.tuples(st.sampled_from(["AND", "OR", "MINUS"]), sub, sub),
        st.tuples(
            st.just("refine"), sub, st.lists(refinement, min_size=1, max_size=2)
        ),
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_ecl_exprs())
@pytest.mark.slow
def test_ecl_engine_matches_reference_semantics(spark, node):
    """Differential fuzz (r9): random ECL ASTs rendered to strings,
    evaluated by fhir/terminology.py::ecl_expand (broadcast joins over
    the closure) and by a 30-line pure-Python reference over the same
    anatomy tree — results must be set-equal. Covers prefix/wildcard/
    set-op/refinement composition orders no hand-written case does."""
    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        ecl_expand,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_ANATOMY_PROPS_DOC,
        _encode_doc as _encode,
    )

    global _ECL_CS_CACHE
    try:
        cs, clo = _ECL_CS_CACHE
    except NameError:
        cs = _encode(spark, _CS_ANATOMY_PROPS_DOC, "CodeSystem")
        clo = concept_closure(concept_edges(cs)).cache()
        clo.count()
        _ECL_CS_CACHE = (cs, clo)
    ecl = _ecl_render(node)
    got = {
        r.code
        for r in ecl_expand(
            ecl, cs, clo, "http://example.org/cs/anatomy2"
        ).collect()
    }
    assert got == _ecl_ref_eval(node), ecl


# --- ECL r9-extension fuzz (dot / cardinality / reverse) over findings2 -------------
# Mirror of suite/fhir_queries.py::_CS_FINDINGS2_DOC — site is
# concept-valued (so dotted walks and reverse attributes are non-empty)
# and multi-trauma carries TWO site assertions (so cardinality > 1 and
# assertion-vs-concept counting diverge if the engine gets it wrong).
_F2_UNI = [
    "anatomy", "limb", "arm", "hand", "leg",
    "finding", "arm-fracture", "hand-burn", "leg-sprain",
    "multi-trauma", "fatigue", "7", "12",
]
_F2_DESC = {
    "anatomy": {"limb", "arm", "hand", "leg"},
    "limb": {"arm", "hand", "leg"},
    "arm": {"hand"},
    "finding": {
        "arm-fracture", "hand-burn", "leg-sprain", "multi-trauma",
        "fatigue", "7", "12",
    },
}
_F2_PROPS = {
    # numeric-CODED concepts (r13): reverse+numeric refinements test
    # the SOURCE code as a number, so "7" and "12" give that path
    # real hits (non-numeric codes all-miss, which != must also agree
    # on exactly)
    "7": [("site", "arm"), ("severity", "high")],
    "12": [("site", "7"), ("severity", "low")],
    "arm-fracture": [("site", "arm"), ("severity", "high")],
    "hand-burn": [("site", "hand"), ("severity", "low")],
    "leg-sprain": [("site", "leg"), ("severity", "low")],
    "multi-trauma": [("site", "arm"), ("site", "leg"), ("severity", "high")],
    "fatigue": [("severity", "low")],
}


def _f2_terms():
    codes = st.sampled_from(_F2_UNI + ["ghost"])
    prefixes = st.sampled_from([None, "<", "<<", ">", ">>", "<!", ">!"])
    wild = st.sampled_from(["<", "<<", ">", ">>", "<!", ">!"])
    return st.one_of(
        st.just(("any",)),
        st.tuples(st.just("anyprefixed"), wild),
        st.tuples(st.just("focus"), prefixes, codes),
    )


def _f2_exprs(depth=2):
    if depth == 0:
        return _f2_terms()
    sub = _f2_exprs(depth - 1)
    tok_attrs = st.sampled_from(["site", "severity", "*"])
    # r11: refinement attribute names may be expressions — in findings2
    # property codes are not concepts, so expression attributes mostly
    # match empty, which the reference evaluator must agree on exactly.
    # Dotted walks stay token-only (the engine's contract).
    attrs = st.one_of(tok_attrs, _f2_terms())
    card = st.one_of(
        st.none(),
        st.tuples(
            st.integers(0, 2),
            st.one_of(st.none(), st.integers(0, 3)),
        ).filter(lambda c: c[1] is None or c[1] >= c[0]),
    )
    value = st.one_of(
        st.tuples(
            st.just("focus"),
            st.just(None),
            st.sampled_from(
                ["arm", "leg", "high", "low", "multi-trauma", "ghost"]
            ),
        ),
        _f2_terms(),
    )
    # r12 ops: concept values take =/!=; numeric '#' literals take all
    # six comparators, WITH the reverse flag since r13 (the last
    # parser refusal lifted): forward numerics test the property
    # value, reverse numerics the SOURCE code — the numeric-coded
    # concepts "7"/"12" make both directions hit non-empty sets.
    concept_ref = st.tuples(
        card, st.booleans(), attrs, st.sampled_from(["=", "!="]), value
    )
    num_ref = st.tuples(
        card,
        st.booleans(),
        attrs,
        st.sampled_from(["=", "!=", "<", "<=", ">", ">="]),
        st.tuples(st.just("num"), st.sampled_from([0.0, 7.0, 12.0, -2.5])),
    )
    refinement = st.one_of(concept_ref, num_ref)
    # r12: card+rev combined on one group member is now supported
    group_ref = refinement
    group = st.tuples(
        st.just("grp"), st.lists(group_ref, min_size=1, max_size=2)
    )
    ref_item = st.one_of(refinement, group)
    # r12 refinement conjunction/disjunction trees (one nesting level),
    # alongside the legacy comma-conjunction list form
    ref_tree = st.one_of(
        st.lists(ref_item, min_size=1, max_size=2),
        st.tuples(
            st.sampled_from(["rAND", "rOR"]),
            st.lists(
                st.one_of(
                    ref_item,
                    st.tuples(
                        st.sampled_from(["rAND", "rOR"]),
                        st.lists(ref_item, min_size=2, max_size=2),
                    ),
                ),
                min_size=2,
                max_size=3,
            ),
        ),
    )
    return st.one_of(
        sub,
        st.tuples(st.sampled_from(["AND", "OR", "MINUS"]), sub, sub),
        st.tuples(st.just("dot"), sub, tok_attrs),
        st.tuples(st.just("refine"), sub, ref_tree),
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_f2_exprs())
@pytest.mark.slow
def test_ecl_extension_fuzz_matches_reference(spark, node):
    """Differential fuzz for the r9 ECL extensions: random ASTs with
    dotted walks, cardinality windows and reverse attributes over the
    findings2 tree, rendered to strings and compared against the plain-
    Python reference evaluator — assertion counting (multi-trauma's two
    site assertions), zero-count [0..0] windows and role-swapped
    matching must agree set-for-set with the broadcast-join engine."""
    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        ecl_expand,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_FINDINGS2_DOC,
        _encode_doc as _encode,
    )

    global _F2_CS_CACHE
    try:
        cs, clo = _F2_CS_CACHE
    except NameError:
        import copy

        # local extension of the suite fixture (NOT the shared doc —
        # its oracle-pinned queries must keep their universe): the
        # numeric-coded findings "7"/"12" that give reverse+numeric
        # refinements (r13) real hits
        doc = copy.deepcopy(_CS_FINDINGS2_DOC)
        finding = next(
            c for c in doc["concept"] if c["code"] == "finding"
        )
        finding["concept"].extend([
            {"code": "7", "display": "Numeric seven",
             "property": [{"code": "site", "valueCode": "arm"},
                          {"code": "severity", "valueCode": "high"}]},
            {"code": "12", "display": "Numeric twelve",
             "property": [{"code": "site", "valueCode": "7"},
                          {"code": "severity", "valueCode": "low"}]},
        ])
        cs = _encode(spark, doc, "CodeSystem")
        clo = concept_closure(concept_edges(cs)).cache()
        clo.count()
        _F2_CS_CACHE = (cs, clo)
    ecl = _ecl_render(node)
    got = {
        r.code
        for r in ecl_expand(
            ecl, cs, clo, "http://example.org/cs/findings2"
        ).collect()
    }
    assert got == _ecl_ref_eval(node, _F2_UNI, _F2_DESC, _F2_PROPS), ecl


# --- ECL r12 comparison-operator fuzz over the numeric meds tree --------------------
# Mirror of suite/fhir_queries.py::_CS_MEDS_DOC — strength is
# numeric-valued (valueDecimal; the engine sees its DECIMAL(38,6)
# string form, the reference the float — try_cast/float() must agree),
# ibuprofen-400-plus carries TWO strength assertions (count vs group
# divergence), and form is concept-valued (tablet/capsule under
# form-kind) so != and reverse refinements hit non-empty sets.
_MEDS_UNI = [
    "drug", "amoxicillin-250", "amoxicillin-500", "ibuprofen-200",
    "ibuprofen-400-plus", "placebo", "form-kind", "tablet", "capsule",
]
_MEDS_DESC = {
    "drug": {
        "amoxicillin-250", "amoxicillin-500", "ibuprofen-200",
        "ibuprofen-400-plus", "placebo",
    },
    "form-kind": {"tablet", "capsule"},
}
_MEDS_PROPS = {
    "amoxicillin-250": [("strength", 250.0), ("form", "tablet")],
    "amoxicillin-500": [("strength", 500.0), ("form", "capsule")],
    "ibuprofen-200": [("strength", 200.0), ("form", "tablet")],
    "ibuprofen-400-plus": [
        ("strength", 400.0), ("strength", 100.0), ("form", "tablet")
    ],
    "placebo": [("form", "tablet")],
}


def _meds_terms():
    codes = st.sampled_from(_MEDS_UNI + ["ghost"])
    prefixes = st.sampled_from([None, "<", "<<", ">", ">>", "<!", ">!"])
    return st.one_of(
        st.just(("any",)),
        st.tuples(st.just("focus"), prefixes, codes),
    )


def _meds_exprs(depth=2):
    if depth == 0:
        return _meds_terms()
    sub = _meds_exprs(depth - 1)
    attrs = st.sampled_from(["strength", "form", "*"])
    card = st.one_of(
        st.none(),
        st.tuples(
            st.integers(0, 2),
            st.one_of(st.none(), st.integers(0, 3)),
        ).filter(lambda c: c[1] is None or c[1] >= c[0]),
    )
    concept_value = st.one_of(
        st.tuples(
            st.just("focus"),
            st.just(None),
            st.sampled_from(["tablet", "capsule", "ghost"]),
        ),
        _meds_terms(),
    )
    concept_ref = st.tuples(
        card, st.booleans(), attrs, st.sampled_from(["=", "!="]),
        concept_value,
    )
    num_ref = st.tuples(
        card,
        st.just(False),
        attrs,
        st.sampled_from(["=", "!=", "<", "<=", ">", ">="]),
        st.tuples(
            st.just("num"),
            st.sampled_from([100.0, 150.5, 200.0, 250.0, 400.0, 500.0]),
        ),
    )
    refinement = st.one_of(concept_ref, num_ref)
    group = st.tuples(
        st.just("grp"), st.lists(refinement, min_size=1, max_size=2)
    )
    ref_item = st.one_of(refinement, group)
    ref_tree = st.one_of(
        st.lists(ref_item, min_size=1, max_size=2),
        st.tuples(
            st.sampled_from(["rAND", "rOR"]),
            st.lists(ref_item, min_size=2, max_size=3),
        ),
    )
    return st.one_of(
        sub,
        st.tuples(st.sampled_from(["AND", "OR", "MINUS"]), sub, sub),
        st.tuples(st.just("refine"), sub, ref_tree),
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_meds_exprs())
@pytest.mark.slow
def test_ecl_comparison_fuzz_matches_reference(spark, node):
    """Differential fuzz for the r12 comparison operators: random ASTs
    with != on concept values, numeric '#' comparisons over the
    DECIMAL-backed strength property, cardinality windows, and
    card+reverse group members, rendered to strings and compared
    against the plain-Python reference evaluator."""
    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        ecl_expand,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_MEDS_DOC,
        _encode_doc as _encode,
    )

    global _MEDS_CS_CACHE
    try:
        cs, clo = _MEDS_CS_CACHE
    except NameError:
        cs = _encode(spark, _CS_MEDS_DOC, "CodeSystem")
        clo = concept_closure(concept_edges(cs)).cache()
        clo.count()
        _MEDS_CS_CACHE = (cs, clo)
    ecl = _ecl_render(node)
    got = {
        r.code
        for r in ecl_expand(
            ecl, cs, clo, "http://example.org/cs/meds"
        ).collect()
    }
    assert got == _ecl_ref_eval(node, _MEDS_UNI, _MEDS_DESC, _MEDS_PROPS), ecl


# --- ValueSet compose differential fuzz (r10) ----------------------------------------
# Random compose structures over a fixed anatomy tree + a flat second
# system, evaluated by fhir/terminology.py::expand_valueset and by a
# pure-Python set evaluator — catches cross-feature interactions
# (whole-system + exclude, reference-intersection + is-a, ...) no
# hand-written case covers. References point at ANY previously
# generated ValueSet (r11) — including reference-bearing ones, so
# depth-N chains arise naturally (definition order keeps the graph
# acyclic; the cycle guard has its own directed test) — and includes
# may MIX a system-side selection with references (the r11
# system∩valueSets conjunction).
_VSF_SYS_A = "http://example.org/cs/anatomy2"
_VSF_SYS_B = "http://example.org/cs/flat"
_VSF_TREE = {  # direct children (anatomy2 fixture shape)
    "body": ["limb", "organ"],
    "limb": ["arm", "leg"],
    "arm": ["hand"],
    "leg": ["foot"],
    "organ": ["heart"],
}
_VSF_A = ["body", "limb", "arm", "hand", "leg", "foot", "organ", "heart"]
_VSF_B = ["b1", "b2", "b3"]


def _vsf_desc_or_self(code):
    out = {code}
    stack = [code]
    while stack:
        for c in _VSF_TREE.get(stack.pop(), []):
            if c not in out:
                out.add(c)
                stack.append(c)
    return out


def _vsf_ref_eval(vs_specs):
    """Pure-python expansion: {url: {(system, code)}} in definition
    order (refs resolve against earlier entries only)."""
    out = {}
    for url, includes, excludes in vs_specs:
        acc = set()
        for inc in includes:
            kind = inc[0]
            if kind == "concepts":
                acc |= {(inc[1], c) for c in inc[2]}
            elif kind == "whole":
                uni = _VSF_A if inc[1] == _VSF_SYS_A else _VSF_B
                acc |= {(inc[1], c) for c in uni}
            elif kind == "isa":
                acc |= {(_VSF_SYS_A, c) for c in _vsf_desc_or_self(inc[1])}
            elif kind == "refs":  # intersection of referenced expansions
                sets = [out[r] for r in inc[1]]
                inter = set.intersection(*sets) if sets else set()
                acc |= inter
            else:  # mixed (r11): system-side selection ∩ all refs
                side_spec, refs = inc[1], inc[2]
                side = _vsf_ref_eval([("side", [side_spec], [])])["side"]
                for r in refs:
                    side &= out[r]
                acc |= side
        for exc in excludes:
            if exc[0] == "concepts":
                acc -= {(exc[1], c) for c in exc[2]}
            else:  # ref
                acc -= out[exc[1]]
        out[url] = acc
    return out


def _vsf_to_doc(url, includes, excludes):
    def inc_json(inc):
        if inc[0] == "concepts":
            return {"system": inc[1],
                    "concept": [{"code": c} for c in inc[2]]}
        if inc[0] == "whole":
            return {"system": inc[1]}
        if inc[0] == "isa":
            return {"system": _VSF_SYS_A,
                    "filter": [{"property": "concept", "op": "is-a",
                                "value": inc[1]}]}
        if inc[0] == "mixed":
            side = inc_json(inc[1])
            side["valueSet"] = list(inc[2])
            return side
        return {"valueSet": list(inc[1])}

    doc = {"resourceType": "ValueSet", "id": url.rsplit("/", 1)[1],
           "status": "active", "url": url,
           "compose": {"include": [inc_json(i) for i in includes]}}
    if excludes:
        doc["compose"]["exclude"] = [
            {"system": e[1], "concept": [{"code": c} for c in e[2]]}
            if e[0] == "concepts"
            else {"valueSet": [e[1]]}
            for e in excludes
        ]
    return doc


@st.composite
def _vsf_specs(draw):
    specs = []
    prior_urls = []  # any previously generated url may be referenced
    #                  (r11 depth-N: definition order keeps it acyclic)
    n_vs = draw(st.integers(2, 4))
    for i in range(n_vs):
        url = f"http://example.org/ValueSet/fz{i}"
        prior = list(prior_urls)
        side_strats = [
            st.tuples(
                st.just("concepts"),
                st.sampled_from([_VSF_SYS_A, _VSF_SYS_B]),
                st.lists(
                    st.sampled_from(_VSF_A + _VSF_B), min_size=1,
                    max_size=4, unique=True,
                ),
            ),
            st.tuples(st.just("whole"),
                      st.sampled_from([_VSF_SYS_A, _VSF_SYS_B])),
            st.tuples(st.just("isa"), st.sampled_from(_VSF_A)),
        ]
        inc_strats = list(side_strats)
        if prior:
            ref_lists = st.lists(
                st.sampled_from(prior), min_size=1, max_size=2,
                unique=True,
            ).map(tuple)
            inc_strats.append(st.tuples(st.just("refs"), ref_lists))
            # r11 mixed include: system-side selection ∩ references
            inc_strats.append(
                st.tuples(
                    st.just("mixed"), st.one_of(side_strats), ref_lists
                )
            )
        includes = draw(
            st.lists(st.one_of(inc_strats), min_size=1, max_size=2)
        )
        exc_strats = [
            st.tuples(
                st.just("concepts"),
                st.sampled_from([_VSF_SYS_A, _VSF_SYS_B]),
                st.lists(
                    st.sampled_from(_VSF_A + _VSF_B), min_size=1,
                    max_size=3, unique=True,
                ),
            ),
        ]
        if prior:
            exc_strats.append(
                st.tuples(st.just("ref"), st.sampled_from(prior))
            )
        excludes = draw(
            st.lists(st.one_of(exc_strats), min_size=0, max_size=1)
        )
        specs.append((url, includes, excludes))
        prior_urls.append(url)
    return specs


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_vsf_specs())
@pytest.mark.slow
def test_valueset_compose_fuzz_matches_reference(spark, specs):
    """Differential fuzz over expand_valueset's full compose surface:
    random mixes of listed concepts, whole-system includes, is-a
    filters, reference intersections and (concept | reference)
    excludes must match a pure-python set evaluator per URL. Listed
    concepts are NOT membership-checked against the CodeSystem (spec:
    enumerated includes are authoritative), which the reference
    mirrors."""
    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        expand_valueset,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_ANATOMY_PROPS_DOC,
        _encode_doc as _encode,
    )

    global _VSF_CS_CACHE
    try:
        cs, clo = _VSF_CS_CACHE
    except NameError:
        flat = {
            "resourceType": "CodeSystem", "id": "cs-flat",
            "status": "active", "url": _VSF_SYS_B,
            "content": "complete",
            "concept": [{"code": c} for c in _VSF_B],
        }
        cs = _encode(spark, [_CS_ANATOMY_PROPS_DOC, flat], "CodeSystem")
        clo = concept_closure(concept_edges(cs)).cache()
        clo.count()
        _VSF_CS_CACHE = (cs, clo)
    docs = [_vsf_to_doc(*s) for s in specs]
    vs = _encode(spark, docs, "ValueSet")
    got: dict = {}
    for r in expand_valueset(vs, cs, closure=clo).collect():
        got.setdefault(r.url, set()).add((r.system, r.code))
    ref = _vsf_ref_eval(specs)
    for url, expect in ref.items():
        assert got.get(url, set()) == expect, (url, specs)


# --- ConceptMap $translate differential fuzz (r10) ------------------------------------
# Random ConceptMaps (groups, multi-target elements, codeless targets,
# unmapped modes) and random fact rows, evaluated forward AND reverse
# by fhir/terminology.py::translate_codes and by a pure-python
# evaluator. Covers the r9 codeless-target regression class and the
# reverse-mode narrowings by construction.
_TRF_SRC_SYS = ["http://x/s1", "http://x/s2"]
_TRF_TGT_SYS = ["http://x/t1", "http://x/t2"]
_TRF_CODES = ["a", "b", "c", "d"]
_TRF_TCODES = ["A", "B", "C"]


@st.composite
def _trf_case(draw):
    groups = []
    for src in draw(
        st.lists(st.sampled_from(_TRF_SRC_SYS), min_size=1, max_size=2,
                 unique=True)
    ):
        tgt = draw(st.sampled_from(_TRF_TGT_SYS))
        elements = []
        for code in draw(
            st.lists(st.sampled_from(_TRF_CODES), min_size=1, max_size=3,
                     unique=True)
        ):
            targets = draw(
                st.lists(
                    st.one_of(
                        st.tuples(
                            st.sampled_from(_TRF_TCODES),
                            st.sampled_from(
                                ["equivalent", "wider", "narrower"]
                            ),
                        ),
                        # codeless target (equivalence unmatched)
                        st.just((None, "unmatched")),
                    ),
                    min_size=1,
                    max_size=2,
                )
            )
            elements.append((code, targets))
        unmapped = draw(
            st.sampled_from([None, ("provided",), ("fixed", "UNK")])
        )
        groups.append((src, tgt, elements, unmapped))
    facts = draw(
        st.lists(
            st.tuples(
                st.sampled_from(_TRF_SRC_SYS + _TRF_TGT_SYS + ["http://x/other"]),
                st.sampled_from(_TRF_CODES + _TRF_TCODES + ["zz"]),
            ),
            min_size=1,
            max_size=6,
        )
    )
    return groups, facts


def _trf_doc(groups):
    def tgt_json(t):
        code, eq = t
        d = {"equivalence": eq}
        if code is not None:
            d["code"] = code
        return d

    gj = []
    for src, tgt, elements, unmapped in groups:
        g = {
            "source": src,
            "target": tgt,
            "element": [
                {"code": c, "target": [tgt_json(t) for t in ts]}
                for c, ts in elements
            ],
        }
        if unmapped is not None:
            g["unmapped"] = (
                {"mode": "provided"}
                if unmapped[0] == "provided"
                else {"mode": "fixed", "code": unmapped[1]}
            )
        gj.append(g)
    return {"resourceType": "ConceptMap", "id": "cm-fz",
            "status": "active", "url": "http://x/cm/fz", "group": gj}


def _trf_ref(groups, facts, reverse):
    """Expected multiset of (row_id, target_system, target_code,
    equivalence) rows."""
    rows = []
    for rid, (sys_, code) in enumerate(facts):
        hits = []
        for src, tgt, elements, unmapped in groups:
            if not reverse:
                if sys_ != src:
                    continue
                matched = False
                for c, ts in elements:
                    if c == code:
                        matched = True
                        for tc, eq in ts:
                            hits.append((tgt, tc, eq))
                if not matched and unmapped is not None:
                    if unmapped[0] == "provided":
                        hits.append((tgt, code, None))
                    else:
                        hits.append((tgt, unmapped[1], None))
            else:
                if sys_ != tgt:
                    continue
                for c, ts in elements:
                    for tc, eq in ts:
                        if tc == code:  # codeless targets never match
                            hits.append((src, c, eq))
        if hits:
            rows.extend((rid, *h) for h in hits)
        else:
            rows.append((rid, None, None, None))
    return sorted(rows, key=lambda r: (r[0], str(r[1]), str(r[2]), str(r[3])))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_trf_case())
@pytest.mark.slow
def test_translate_fuzz_matches_reference(spark, case):
    """Differential fuzz for $translate forward (multi-target
    elements, codeless targets keeping their stated equivalence,
    provided/fixed unmapped fallbacks, multi-group fan-out) and
    reverse (element side returned, unmapped never fires, codeless
    targets unmatched) against a pure-python evaluator."""
    from parquet_on_fhir_spark.fhir.terminology import translate_codes
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _encode_doc as _encode,
    )

    groups, facts = case
    cm = _encode(spark, _trf_doc(groups), "ConceptMap")
    fdf = spark.createDataFrame(
        [(i, s, c) for i, (s, c) in enumerate(facts)],
        "row_id long, system string, code string",
    )
    for reverse in (False, True):
        got = sorted(
            (
                (r.row_id, r.target_system, r.target_code, r.equivalence)
                for r in translate_codes(
                    fdf, cm, "system", "code", reverse=reverse
                ).collect()
            ),
            key=lambda r: (r[0], str(r[1]), str(r[2]), str(r[3])),
        )
        assert got == _trf_ref(groups, facts, reverse), (reverse, case)
