"""N3 rule evaluation + fixpoint closure (the Reasoner).

Fresh implementation of the semantics documented in SURVEY.md §3.2
(reference: lib/rdf/n3/reasoner.rb, lib/rdf/n3/algebra/formula.rb,
log/implies.rb — behavior only, no code taken).

Architecture (two scales, one core):

* This module is the **pure-Python core**: rules are tiny and always
  driver-side (or per-document inside a pandas UDF) — evaluating them
  with Python dicts is orders of magnitude cheaper than launching a
  Spark job per rule per fixpoint round *for a single document*.
* Corpus-scale *per-document* reasoning runs this core inside
  ``mapInPandas`` (documents are independent ⇒ embarrassingly
  parallel).
* For ONE global rulebase over a distributed triple set, the BGP is
  re-planned as DataFrame joins (plans/bgp.py) — same compiled rules,
  different executor.

Term model: encoded strings (see n3_parser) + native list terms
``("L", (t1, t2, …))`` (the reader's list_terms:true mode). Formula
terms are their graph node ids; formula content lives in the graph map.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

from rdf_n3_spark.functions import builtins as B
from rdf_n3_spark.functions.n3_parser import (
    LOG,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    XSD,
    parse_n3,
)

LOG_IMPLIES = f"<{LOG}implies>"
Quad = tuple  # (s, p, o, g) — terms are str or ("L", tuple)


def _file_uri_path(iri: str, base: str = "",
                   allow_bare: bool = True) -> str | None:
    """Local filesystem path for a file: (or relative-against-base)
    IRI; None for any other scheme — the engine's dereference boundary
    for log:content / log:semantics. ``allow_bare=False`` rejects
    scheme-less absolute paths NAMED IN DATA (the default-fetcher
    policy: an untrusted document must not name raw local paths) —
    but a RELATIVE IRI joined against the caller's own base inherits
    the base's trust even when the base is a bare path (the common
    "parsed from /dir/main.n3, references <doc.txt>" case); escapes
    like ../../etc stay caught by the fetcher's allow_base subtree
    check."""
    from urllib.parse import unquote, urljoin, urlparse

    joined = False
    if base and ":" not in iri.split("/", 1)[0] and not iri.startswith("/"):
        iri = urljoin(base, iri)
        joined = True
    u = urlparse(iri)
    if u.scheme == "file":
        return unquote(u.path)
    if (allow_bare or joined) and u.scheme == "" and iri.startswith("/"):
        return iri
    return None


def file_fetcher(allow_base: str | None = None,
                 allow_bare_paths: bool = False):
    """Fetcher factory for :class:`Reasoner`: resolves ``file:`` IRIs
    (and relative IRIs against a file base) to local text.

    ``allow_base`` restricts dereference to that directory subtree —
    an IRI resolving outside it is treated as unresolvable (None), the
    same failure mode as an unknown scheme. ``allow_bare_paths``
    additionally accepts scheme-less absolute paths (off by default;
    see ADVICE r2 — untrusted corpora must not dereference arbitrary
    local files).

    The fetcher contract: ``fetch(iri, base) -> str | None`` — text on
    success, None for "this fetcher does not resolve that IRI" (no
    solution, no error), and raise ``OSError`` for a failed fetch of a
    resolvable IRI (→ no solution, matching content.rb:24-27). A
    deployment adds http/object-store dereference by passing its own
    callable with this contract — the reasoner never changes
    (the reference routes through RDF::Util::File.open_file the same
    way, content.rb:19-32)."""
    import os as _os

    def fetch(iri: str, base: str = "") -> str | None:
        path = _file_uri_path(iri, base, allow_bare=allow_bare_paths)
        if path is None:
            return None
        if allow_base is not None:
            root = _os.path.realpath(allow_base)
            rp = _os.path.realpath(path)
            if rp != root and not rp.startswith(root + _os.sep):
                return None
        with open(path, encoding="utf-8") as fh:
            return fh.read()

    return fetch


def _default_fetcher(iri: str, base: str = "") -> str | None:
    """Default dereference policy: file: IRIs only, and ONLY inside the
    base document's own directory — a reasoner whose base is not a
    file: URI dereferences nothing. An untrusted N3 document stating
    ``<file:///etc/passwd> log:content ?x`` therefore binds nothing by
    default; callers opt in via ``fetcher=file_fetcher(...)``."""
    import os as _os

    bpath = _file_uri_path(base) if base else None
    if bpath is None:
        return None
    return file_fetcher(allow_base=_os.path.dirname(bpath) or "/")(iri, base)


def _is_var(t) -> bool:
    return isinstance(t, str) and t.startswith("?")


def _is_bnode(t) -> bool:
    return isinstance(t, str) and t.startswith("_:")


def _is_formula(t) -> bool:
    return isinstance(t, str) and t.startswith("_:form_")


def _is_list(t) -> bool:
    return isinstance(t, tuple) and len(t) == 2 and t[0] == "L"


def _iri(t) -> str:
    return t[1:-1] if isinstance(t, str) and t.startswith("<") else ""


# ------------------------------------------------------- list folding

def fold_lists(quads: list[Quad]) -> list[Quad]:
    """Collapse rdf:first/rdf:rest ladders into native ("L", …) terms —
    the reader's list_terms:true representation, which is what rule
    evaluation uses (list.rb semantics). Ladder quads are removed; any
    other quad referencing a ladder head gets the native list term.
    Malformed/partial ladders are left untouched."""
    first: dict[tuple, object] = {}
    rest: dict[tuple, object] = {}
    for s, p, o, g in quads:
        # only bnode-rooted cells are ladder candidates: variables/IRIs
        # with first/rest are hand-authored *patterns*, not collections
        if p == RDF_FIRST and _is_bnode(s):
            first[(g, s)] = o
        elif p == RDF_REST and _is_bnode(s):
            rest[(g, s)] = o

    def chain(g, node, seen):
        """node → list of elements if a well-formed ladder, else None."""
        elems = []
        cur = node
        while True:
            if cur == RDF_NIL:
                return elems
            if (g, cur) not in first or (g, cur) not in rest or cur in seen:
                return None
            seen.add(cur)
            elems.append(first[(g, cur)])
            cur = rest[(g, cur)]

    values: dict[tuple, tuple] = {}
    for (g, node) in list(first):
        got = chain(g, node, set())
        if got is not None:
            values[(g, node)] = got

    def subst(t, g):
        if (g, t) in values:
            return ("L", tuple(subst(e, g) for e in values[(g, t)]))
        return t

    cells = set()
    for (g, node) in values:
        cur = node
        while cur != RDF_NIL and (g, cur) in rest:
            cells.add((g, cur))
            cur = rest[(g, cur)]

    out = []
    for s, p, o, g in quads:
        if (g, s) in cells and p in (RDF_FIRST, RDF_REST):
            continue
        out.append((subst(s, g), p, subst(o, g), g))
    return out


def expand_lists(quads: list[Quad], prefix: str = "_:l") -> list[Quad]:
    """Inverse of fold_lists: native list terms → first/rest ladders
    with deterministic cell ids (the each_expanded_statement projection
    used before golden comparison; repository.rb:128-143 behavior)."""
    out: list[Quad] = []
    memo: dict[tuple, str] = {}

    def emit(t, g) -> object:
        if not _is_list(t):
            return t
        key = (g, t)
        if key in memo:
            return memo[key]
        if not t[1]:
            return RDF_NIL
        h = hashlib.md5(repr(key).encode()).hexdigest()[:12]
        head = f"{prefix}{h}_0"
        memo[key] = head
        elems = t[1]
        for i, e in enumerate(elems):
            cell = f"{prefix}{h}_{i}"
            out.append((cell, RDF_FIRST, emit(e, g), g))
            nxt = f"{prefix}{h}_{i + 1}" if i + 1 < len(elems) else RDF_NIL
            out.append((cell, RDF_REST, nxt, g))
        return head

    for s, p, o, g in quads:
        out.append((emit(s, g), p, emit(o, g), g))
    return out


# ------------------------------------------------------- substitution

def _walk(t, sol):
    while _is_var(t) and t in sol:
        t = sol[t]
    if _is_list(t):
        return ("L", tuple(_walk(e, sol) for e in t[1]))
    return t


def _unify(pat, val, sol):
    pat = _walk(pat, sol)
    if _is_var(pat):
        if pat == val:
            return sol  # var unifies with itself (no self-binding loop)
        s2 = dict(sol)
        s2[pat] = val
        return s2
    if _is_list(pat) and _is_list(val):
        if len(pat[1]) != len(val[1]):
            return None
        s2 = sol
        for a, b in zip(pat[1], val[1]):
            s2 = _unify(a, b, s2)
            if s2 is None:
                return None
        return s2
    return sol if pat == val else None


def _ground(t) -> bool:
    if _is_var(t):
        return False
    if _is_list(t):
        return all(_ground(e) for e in t[1])
    return True


# ------------------------------------------------------------ reasoner


class Reasoner:
    """Forward-chaining N3 reasoner over a quad set.

    execute(think=False): one pass; think=True: naive fixpoint until the
    KB stops growing (reasoner.rb:122-140 semantics). Inferred
    statements carry an inferred flag (repository.rb:310).
    """

    def __init__(self, quads: list[Quad], base_uri: str = "",
                 universals: set[str] | None = None, fetcher=None):
        self.base = base_uri
        #: log:content / log:semantics dereference hook — see
        #: :func:`file_fetcher` for the contract. Default: file: IRIs
        #: inside the base document's directory only.
        self.fetcher = fetcher or _default_fetcher
        quads = fold_lists(list(quads))
        if universals:
            # @forAll-declared terms are universally quantified → vars.
            # (cwm/N3 semantics; declaration scope approximated as
            # document-wide, which matches the fixture corpus.)
            umap = {u: f"?u_{i}_{u.strip('<>').rsplit('#', 1)[-1].rsplit('/', 1)[-1]}"
                    for i, u in enumerate(sorted(universals))}

            def uv(t):
                if _is_list(t):
                    return ("L", tuple(uv(e) for e in t[1]))
                return umap.get(t, t)

            quads = [(uv(s), uv(p), uv(o), g) for s, p, o, g in quads]
        self.kb: set[Quad] = set(quads)
        self.inferred: set[Quad] = set()
        self.strings: dict[str, list[str]] = defaultdict(list)
        self._form_ctr = 0

    # ---- views
    def graph(self, g: str) -> list[Quad]:
        return [q for q in self.kb if q[3] == g]

    def data(self) -> list[Quad]:
        """Ground default-graph statements (reasoner.rb:184-194): no
        variables, no formula-valued terms, no rule statements."""
        out = []
        for s, p, o, g in self.kb:
            if g != "":
                continue
            if any(_is_var(t) or _is_formula(t) for t in (s, o)):
                continue
            if _is_var(p) or _is_formula(p):
                continue
            out.append((s, p, o, g))
        return out

    def conclusions(self) -> list[Quad]:
        return [q for q in self.inferred if q[3] == ""]

    # ---- rule compilation
    def _compile_rules(self):
        rules = []
        for s, p, o, g in sorted(self.kb, key=repr):
            if p == LOG_IMPLIES and g == "" and _is_formula(s) and _is_formula(o):
                rules.append((s, o))
        return rules

    def _antecedent(self, f: str):
        """Formula graph → (bgp patterns, builtin patterns); bnodes
        become non-distinguished existential vars (extensions.rb:121-125)."""
        pats = []
        for s, p, o, g in sorted(self.graph(f), key=repr):
            pats.append((s, p, o))

        def exvar(t):
            if _is_bnode(t) and not _is_formula(t):
                return f"?__ex_{f}_{t[2:]}"
            if _is_list(t):
                return ("L", tuple(exvar(e) for e in t[1]))
            return t

        bgp, ops = [], []
        for s, p, o in pats:
            s, o = exvar(s), exvar(o)
            if B.is_builtin(_iri(p)):
                ops.append((s, p, o))
            else:
                bgp.append((s, p, o))
        return bgp, ops

    # ---- BGP matching against asserted (default-graph) quads
    def _virtual_list_triples(self, data) -> list[Quad]:
        """Native list terms remain queryable through rdf:first/rdf:rest
        patterns (repository.rb:128-143 each_expanded_statement): every
        list suffix yields virtual (suffix, first, head) and
        (suffix, rest, next-suffix) triples."""
        lists: set[tuple] = set()

        def collect(t):
            if _is_list(t):
                lists.add(t)
                for e in t[1]:
                    collect(e)

        for s, p, o, _ in data:
            collect(s)
            collect(o)
        out = []
        for lt in lists:
            elems = lt[1]
            for i in range(len(elems)):
                suf = ("L", elems[i:]) if i else lt
                nxt = ("L", elems[i + 1:]) if i + 1 < len(elems) else RDF_NIL
                out.append((suf, RDF_FIRST, elems[i], ""))
                out.append((suf, RDF_REST, nxt, ""))
        return out

    def _match_bgp(self, patterns) -> list[dict]:
        data = [q for q in self.kb if q[3] == ""]
        # virtual ladder triples are visible ONLY to constant
        # rdf:first/rdf:rest patterns (the reference matches lists
        # natively; ladders are a projection, not extra data)
        virtual = (
            self._virtual_list_triples(data)
            if any(p[1] in (RDF_FIRST, RDF_REST) for p in patterns)
            else []
        )
        by_pred: dict[str, list[Quad]] = defaultdict(list)
        for q in data:
            by_pred[q[1] if isinstance(q[1], str) else ""].append(q)
        for q in virtual:
            by_pred[q[1]].append(q)

        def candidates(pat, sol):
            p = _walk(pat[1], sol)
            if isinstance(p, str) and not _is_var(p):
                return by_pred.get(p, [])
            return data

        # selectivity: more ground positions first
        def rank(pat):
            return -sum(0 if _is_var(t) else 1 for t in pat)

        remaining = sorted(patterns, key=rank)
        sols = [dict()]
        for pat in remaining:
            new = []
            for sol in sols:
                for (s, p, o, g) in candidates(pat, sol):
                    for s1 in self._unify_multi(pat[0], s, sol):
                        for s2 in self._unify_multi(pat[1], p, s1):
                            new.extend(self._unify_multi(pat[2], o, s2))
            sols = new
            if not sols:
                return []
        # drop solutions binding a variable to another variable
        # (formula.rb:154)
        return [s for s in sols if all(not _is_var(_walk(v, s)) for v in s.values())]

    # ---- builtin evaluation over a solution set
    def _run_builtins(self, ops, sols) -> list[dict]:
        pending = list(ops)
        while pending and sols:
            # rank: fewest unbound var positions across current sols
            def unbound_count(op):
                s, p, o = op
                c = 0
                for sol in sols[:1] or [dict()]:
                    for t in (s, o):
                        w = _walk(t, sol)
                        if not _ground(w):
                            c += 1
                return c

            pending.sort(key=unbound_count)
            op = pending.pop(0)
            new: list[dict] = []
            progressed = False
            for sol in sols:
                res = self._eval_builtin(op, sol)
                if res is not None:
                    progressed = True
                    new.extend(res)
            if not progressed:
                return []  # an operator never became runnable → no fire
            sols = new
        return sols

    def _eval_builtin(self, op, sol) -> list[dict] | None:
        """Returns list of extended solutions (possibly empty = filtered
        out), or None if inputs unresolvable (operator not runnable)."""
        s, p, o = op
        iri = _iri(p)
        sv, ov = _walk(s, sol), _walk(o, sol)

        if iri in B.LOG_SPECIAL:
            return self._eval_log_special(iri, sv, ov, sol)

        if iri.startswith(B.LIST):
            return self._eval_list_special(iri, sv, ov, sol)

        mode, fn = B.REGISTRY[iri]
        try:
            if mode == "test":
                if not (_ground(sv) and _ground(ov)):
                    return None
                return [sol] if fn(self._as_atom(sv), self._as_atom(ov)) else []
            if mode == "compute":
                if not _ground(sv):
                    return None
                val = fn(self._as_atom(sv))
                if val is None:
                    return []
                return self._bind_or_compare(ov, val, sol)
            if mode == "compute_invertible":
                fwd, inv = fn
                if _ground(sv):
                    return self._bind_or_compare(ov, fwd(self._as_atom(sv)), sol)
                if _ground(ov):
                    return self._bind_or_compare(sv, inv(self._as_atom(ov)), sol)
                return None
            if mode == "compute_list":
                if not (_is_list(sv) and _ground(sv)):
                    return None
                val = fn(*sv[1])
                return self._bind_or_compare(ov, val, sol)
            if mode == "compute_list_whole":
                if not (_is_list(sv) and _ground(sv)):
                    return None
                val = fn(list(sv[1]))
                if val is None:
                    return []
                return self._bind_or_compare(ov, val, sol)
        except (ValueError, ZeroDivisionError, OverflowError,
                ArithmeticError, TypeError, IndexError):
            # untrusted data feeding a builtin (e.g. string:format with
            # mismatched directives) → no solution, never a crash —
            # matching the distributed twin's null-on-error UDF
            return []
        return None

    def _as_atom(self, t):
        return t

    def _bind_or_compare(self, target, val, sol) -> list[dict]:
        got = _unify(target, val, sol)
        return [got] if got is not None else []

    # ---- list:* (list_operator.rb / list/*.rb behaviors)
    def _eval_list_special(self, iri, sv, ov, sol):
        name = iri[len(B.LIST):]
        if sv == RDF_NIL:
            sv = ("L", ())  # rdf:nil is the empty list
        if ov == RDF_NIL:
            ov = ("L", ())
        if name == "member":
            if _is_list(sv) and _ground(sv):
                out = []
                for e in sv[1]:
                    got = _unify(ov, e, sol)
                    if got is not None:
                        out.append(got)
                return out
            return None
        if name == "in":
            if _is_list(ov) and _ground(ov):
                out = []
                for e in ov[1]:
                    got = _unify(sv, e, sol)
                    if got is not None:
                        out.append(got)
                return out
            return None
        if not (_is_list(sv) and _ground(sv)):
            return None
        elems = sv[1]
        if name == "first":
            return self._bind_or_compare(ov, elems[0], sol) if elems else []
        if name == "last":
            return self._bind_or_compare(ov, elems[-1], sol) if elems else []
        if name == "length":
            return self._bind_or_compare(ov, B.enc_int(len(elems)), sol)
        if name == "append":
            flat = []
            for e in elems:
                if not _is_list(e):
                    return []
                flat.extend(e[1])
            return self._bind_or_compare(ov, ("L", tuple(flat)), sol)
        if name == "iterate":
            out = []
            for i, e in enumerate(elems):
                pair = ("L", (B.enc_int(i), e))
                got = _unify(ov, pair, sol)
                if got is not None:
                    out.append(got)
            return out
        return None

    # ---- log:* control operators
    def _eval_log_special(self, iri, sv, ov, sol):
        name = iri[len(LOG):]
        if name in ("includes", "notIncludes"):
            if not _is_formula(sv) or not _is_formula(ov):
                return None
            target = [(s, p, o) for s, p, o, _ in self.graph(sv)]
            pats = [(s, p, o) for s, p, o, _ in self.graph(ov)]
            matches = self._match_against(pats, target, sol)
            if name == "includes":
                return matches
            return [sol] if not matches else []
        if name == "conjunction":
            if not (_is_list(sv) and all(_is_formula(f) for f in sv[1])):
                return None
            merged = set()
            for f in sv[1]:
                merged |= {(s, p, o) for s, p, o, _ in self.graph(f)}
            node = self._materialize_formula("conj", merged)
            return self._bind_or_compare(ov, node, sol)
        if name == "conclusion":
            if not _is_formula(sv):
                return None
            sub = Reasoner([(s, p, o, "") for s, p, o, _ in self.graph(sv)]
                           + [q for q in self.kb if q[3] not in ("",)],
                           base_uri=self.base, fetcher=self.fetcher)
            sub.execute(think=True)
            triples = {(s, p, o) for s, p, o, g in sub.kb if g == ""}
            node = self._materialize_formula("concl", triples)
            return self._bind_or_compare(ov, node, sol)
        if name == "parsedAsN3":
            if not (isinstance(sv, str) and sv.startswith('"')):
                return None
            from rdf_n3_spark.functions.builtins import as_string
            parsed = fold_lists(parse_n3(as_string(sv), base_uri=self.base))
            triples = {(s, p, o) for s, p, o, g in parsed if g == ""}
            node = self._materialize_formula("parsed", triples)
            for s, p, o, g in parsed:
                if g != "":
                    self.kb.add((s, p, o, g))
            return self._bind_or_compare(ov, node, sol)
        if name == "dtlit":
            if _is_list(sv) and len(sv[1]) == 2 and _ground(sv):
                lex = B.as_string(sv[1][0])
                dt = _iri(sv[1][1])
                return self._bind_or_compare(ov, f'"{lex}"^^<{dt}>', sol)
            return None
        if name == "langlit":
            if _is_list(sv) and len(sv[1]) == 2 and _ground(sv):
                lex = B.as_string(sv[1][0])
                lang = B.as_string(sv[1][1])
                return self._bind_or_compare(ov, f'"{lex}"@{lang}', sol)
            return None
        if name == "n3String":
            if not _is_formula(sv):
                return None
            from rdf_n3_spark.functions.n3_writer import serialize_n3
            triples = expand_lists(
                [(s, p, o, "") for s, p, o, _ in sorted(self.graph(sv), key=repr)]
            )
            return self._bind_or_compare(ov, B.enc_string(serialize_n3(triples)), sol)
        if name == "outputString":
            if _ground(sv) and _ground(ov):
                self.strings[str(sv)].append(B.as_string(ov))
                return [sol]
            return None
        if name == "implies":
            # nested rule statement inside an antecedent: match as a
            # plain pattern (rare); treat as unsupported here
            return None
        if name == "supports":
            # cwm semantics (verified against examples/supports/simple-ref.n3):
            # F log:supports G iff the closure of F under F's own rules
            # includes G — log:conclusion composed with log:includes.
            # The reference raises NotImplemented here (algebra.rb:142);
            # this engine implements the cwm behavior instead.
            if not (_is_formula(sv) and _is_formula(ov)):
                return None
            sub = Reasoner([(s, p, o, "") for s, p, o, _ in self.graph(sv)]
                           + [q for q in self.kb if q[3] != ""],
                           base_uri=self.base, fetcher=self.fetcher)
            sub.execute(think=True)
            target = [(s, p, o) for s, p, o, g in sub.kb if g == ""]
            pats = [(s, p, o) for s, p, o, _ in self.graph(ov)]
            return self._match_against(pats, target, sol)
        if name in ("content", "semantics"):
            # Dereference the subject resource (log/content.rb:19-32,
            # log/semantics.rb:19-38) through the injectable fetcher
            # hook (self.fetcher; see file_fetcher for the contract).
            # The reference opens any IRI via RDF::Util::File; this
            # engine's DEFAULT policy is file: IRIs inside the base
            # document's directory only — no network in a distributed
            # job, no arbitrary local reads from untrusted data. A
            # deployment swaps the fetcher, not the reasoner.
            if not (isinstance(sv, str) and sv.startswith("<")):
                return None
            iri = _iri(sv)
            try:
                text = self.fetcher(iri, self.base)
            except OSError:
                return []  # dereference failure → no solution (content.rb:24-27)
            if text is None:
                return None  # unresolvable for this fetcher
            if name == "content":
                return self._bind_or_compare(ov, B.enc_string(text), sol)
            # semantics: parse with base_uri = the resource itself
            # (semantics.rb:26) and bind the resulting formula node
            parsed = fold_lists(parse_n3(text, base_uri=iri))
            triples = {(s, p, o) for s, p, o, g in parsed if g == ""}
            node = self._materialize_formula("sem", triples)
            for s, p, o, g in parsed:
                if g != "":
                    self.kb.add((s, p, o, g))
            return self._bind_or_compare(ov, node, sol)
        return None

    def _unify_multi(self, pat, val, sol) -> list[dict]:
        """Unification that supports quoted-formula terms: a formula in
        pattern position matches a data formula by structurally matching
        its triples (subgraph semantics, binding pattern variables) —
        the quoted-graph matching of unify1/unify2-style rules."""
        patw = _walk(pat, sol)
        if _is_formula(patw) and _is_formula(val):
            if patw == val:
                return [sol]
            pats = []
            for s, p, o, _ in sorted(self.graph(patw), key=repr):
                pats.append(tuple(self._formula_exvar(t, patw) for t in (s, p, o)))
            target = [(s, p, o) for s, p, o, _ in self.graph(val)]
            if not pats:
                return [sol] if not target else []
            return self._match_against(pats, target, sol)
        got = _unify(patw, val, sol)
        return [got] if got is not None else []

    def _formula_exvar(self, t, f):
        """Blank nodes inside a quoted pattern formula act as
        existential variables scoped to that formula."""
        if _is_bnode(t) and not _is_formula(t):
            return f"?__ex_{f}_{t[2:]}"
        if _is_list(t):
            return ("L", tuple(self._formula_exvar(e, f) for e in t[1]))
        return t

    def _materialize_formula(self, kind: str, triples: set) -> str:
        """Create (or reuse) a formula node for a computed graph —
        content-deterministic id so repeated evaluation converges
        instead of minting fresh nodes every fixpoint round."""
        h = hashlib.md5(repr(sorted(triples, key=repr)).encode()).hexdigest()[:12]
        node = f"_:form_{kind}_{h}"
        for s, p, o in triples:
            self.kb.add((s, p, o, node))
        return node

    def _match_against(self, patterns, target_triples, sol0) -> list[dict]:
        sols = [dict(sol0)]
        for pat in patterns:
            new = []
            for sol in sols:
                for (s, p, o) in target_triples:
                    for s1 in self._unify_multi(pat[0], s, sol):
                        for s2 in self._unify_multi(pat[1], p, s1):
                            new.extend(self._unify_multi(pat[2], o, s2))
            sols = new
            if not sols:
                return []
        return sols

    # ---- consequent instantiation
    def _instantiate(self, rule_id: str, cons_graph: str, sol: dict) -> set[Quad]:
        sig = hashlib.md5(
            (rule_id + "|" + repr(sorted((k, repr(v)) for k, v in sol.items()))).encode()
        ).hexdigest()[:12]
        graph_map = {cons_graph: ""}
        out: set[Quad] = set()

        def subst(t):
            if _is_var(t):
                v = _walk(t, sol)
                if _is_var(v):
                    # unbound var in consequent → fresh existential (cwm)
                    return f"_:inf_{sig}_{v[1:]}"
                return v  # bound values (incl. data bnodes) pass verbatim
            if _is_bnode(t) and not _is_formula(t):
                # *syntactic* consequent bnode → fresh per (rule, solution)
                return f"_:inf_{sig}_{t[2:]}"
            if _is_list(t):
                return ("L", tuple(subst(e) for e in t[1]))
            if _is_formula(t) and t not in graph_map:
                graph_map[t] = f"_:form_{sig}_{len(graph_map)}"
                copy_graph(t)
            return graph_map.get(t, t)

        def copy_graph(f):
            for s, p, o, _ in sorted(self.graph(f), key=repr):
                out.add((subst(s), subst(p), subst(o), graph_map[f]))

        for s, p, o, _ in sorted(self.graph(cons_graph), key=repr):
            out.add((subst(s), subst(p), subst(o), ""))
        return out

    # ---- fixpoint
    def execute(self, think: bool = False, max_rounds: int = 64) -> "Reasoner":
        rounds = 0
        while True:
            rounds += 1
            before = len(self.kb)
            for f1, f2 in self._compile_rules():
                bgp, ops = self._antecedent(f1)
                if not bgp and not ops:
                    continue
                sols = self._match_bgp(bgp) if bgp else [dict()]
                sols = self._run_builtins(ops, sols)
                # antecedent full-binding filter (log/implies.rb:47-52)
                want = _vars_of(bgp) | _vars_of(ops)
                for sol in sols:
                    # antecedent must be fully bound (log/implies.rb:47-52)
                    if any(v not in sol for v in want):
                        continue
                    new = self._instantiate(f"{f1}>{f2}", f2, sol)
                    fresh = new - self.kb
                    self.inferred |= fresh
                    self.kb |= fresh
            if not think or len(self.kb) == before or rounds >= max_rounds:
                return self


def _vars_of(patterns) -> set[str]:
    vs: set[str] = set()

    def scan(t):
        if _is_var(t):
            vs.add(t)
        elif _is_list(t):
            for e in t[1]:
                scan(e)

    for s, p, o in patterns:
        scan(s)
        scan(p)
        scan(o)
    return vs


def reason_n3(text: str, base_uri: str = "", think: bool = True) -> Reasoner:
    """Parse an N3 document and run the closure — the per-document unit
    the pandas-UDF stage maps over the corpus."""
    from rdf_n3_spark.functions.n3_parser import parse_n3_full

    quads, universals = parse_n3_full(text, base_uri=base_uri)
    r = Reasoner(quads, base_uri=base_uri, universals=universals)
    return r.execute(think=think)
