"""Regex PII/toxicity scrub — pure Catalyst ``regexp_replace`` chain
(SURVEY.md §2.8 'WT regex scrub').

Rule order is FIXED and part of the contract: email -> ssn -> phone ->
ip -> toxicity.  Each pattern is written to behave identically under
Java regex (Spark) and Python ``re`` (the reference-label generator in
tests), which is what makes byte-identical scrubbed output testable.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .fixtures import TOX_WORDS

# (name, pattern, replacement) — order matters
SCRUB_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    (
        "phone",
        # a match may also start at '(' or '+' when no word character
        # precedes it, where a leading \b cannot match: 'call (555)
        # 123-4567' and 'call +1 555-123-4567' scrub whole.  The first
        # lookahead names every character a match can start with; it
        # changes no match, but lets the Java regex reject the other
        # start positions before the \b and lookbehind tests (without
        # it the pattern ran ~1.7x slower on crawl text)
        r"(?=[0-9(+])(?:\b|(?<![0-9A-Za-z_])(?=[(+]))"
        r"(\+?1[-. ])?(\([0-9]{3}\)|[0-9]{3})[-. ][0-9]{3}[-. ][0-9]{4}\b",
        "<PHONE>",
    ),
    ("ip", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("toxicity", r"\b(" + "|".join(TOX_WORDS) + r")\b", "<TOX>"),
]


# characters/words whose ABSENCE in a text guarantees the rule's
# pattern cannot match — what each scrub_col gate tests for.  The
# regex parts of the r6 gates ([0-9]{3} followed by a separator;
# digit-dot) cannot be expressed as substring triggers, but their
# safety reduces to the same invariant: no replacement tag contains a
# digit, so no replacement can complete a digit-run or digit-separator
# adjacency across its boundary ('<'/'>' break both).
_GATE_TRIGGERS: dict[str, list[str]] = {
    "email": ["@"],
    "ssn": ["-"] + list("0123456789"),
    "phone": list("0123456789"),
    "ip": ["."] + list("0123456789"),
    "toxicity": list(TOX_WORDS),
}


def _assert_gate_safety() -> None:
    """Enforce the invariant the gated chain and the pii_hit_count
    short-circuit both rest on (ADVICE r03): no rule's REPLACEMENT may
    contain a gate-trigger character/word — or an outright pattern
    match — of the SAME or any LATER rule.  Gates consult the ORIGINAL
    text, so a replacement that introduced a later trigger would make
    the gate silently skip a rule that should fire; a replacement that
    matched a later pattern would break 'a firing rule always changes
    the text'.  Runs at import so editing SCRUB_RULES cannot silently
    violate it."""
    for i, (_ni, _pi, repl_i) in enumerate(SCRUB_RULES):
        for name_j, pat_j, _rj in SCRUB_RULES[i:]:
            for trig in _GATE_TRIGGERS[name_j]:
                if trig in repl_i:
                    raise AssertionError(
                        f"scrub rule replacement {repl_i!r} contains "
                        f"{trig!r}, a gate trigger of later rule "
                        f"{name_j!r} — gates consult the original text, "
                        "so this would skip a rule that should fire"
                    )
            if re.search(pat_j, repl_i):
                raise AssertionError(
                    f"scrub rule replacement {repl_i!r} matches the "
                    f"pattern of rule {name_j!r} — replacing would "
                    "create new matches / not change the text"
                )


_assert_gate_safety()


def scrub_col(c: Column) -> Column:
    """Apply the full chain as nested regexp_replace expressions —
    single projection, whole-stage codegen, no Python.

    Each rule is gated by a NECESSARY condition on the original text
    that costs a substring scan (SIMD memchr) instead of a regex pass:
    email needs a literal '@', ssn a literal '-', all three numeric
    rules a digit, toxicity one of its (few) literal words.  A gate
    can consult the ORIGINAL text because no replacement tag
    ('<EMAIL>' etc.) contains '@', '-', a digit, or a toxicity word —
    a later rule's trigger can never be CREATED by an earlier
    replacement.  When a gate fails, the skipped regexp_replace is
    provably the identity, so output bytes are unchanged — asserted
    against frozen scrub_py goldens in tests.

    Why gates instead of one combined-alternation pre-filter: a Java
    regex alternation must ATTEMPT every branch at every position, so
    a no-match scan costs as much as running all five rules (measured
    121 vs 139 JVM CPU-s on a 2M-doc corpus); the gated chain measured
    ~3x cheaper, and clean prose (no digits, no '@') skips everything
    but the two word scans.

    r6 tightened the numeric gates: gating phone/ip on ANY digit ran
    both backtracking regexes over every document of a corpus where
    stray digits are ubiquitous (measured 1.5 s of the 2M-doc bench).
    The shared gate is now ONE cheap scan for
    ``[0-9]{3}[-.) ]|[0-9]\\.`` — provably necessary for all three
    numeric rules: ssn starts ``[0-9]{3}-``; phone's core
    ``(\\([0-9]{3}\\)|[0-9]{3})[-. ]`` always has 3 digits followed by
    ``)``, ``-``, ``.`` or space; ip contains a digit immediately
    followed by a dot.  A skipped rule is therefore still provably the
    identity (the gate-safety invariant above is unchanged — no
    replacement introduces digits)."""
    numeric_candidate = c.rlike(r"[0-9]{3}[-.) ]|[0-9]\.")
    gates = {
        "email": c.contains("@"),
        # per-rule refinements on top of the shared scan stay cheap
        # (memchr) and keep the rare candidate path tight
        "ssn": numeric_candidate & c.contains("-"),
        "phone": numeric_candidate,
        "ip": numeric_candidate & c.contains("."),
        "toxicity": None,  # built from its word list below
    }
    tox = None
    for w in TOX_WORDS:
        hit = c.contains(w)
        tox = hit if tox is None else (tox | hit)
    gates["toxicity"] = tox
    out = c
    for name, pat, repl in SCRUB_RULES:
        gate = gates.get(name)
        replaced = F.regexp_replace(out, pat, repl)
        out = replaced if gate is None else F.when(gate, replaced).otherwise(out)
    # NOTE (r6): a single outer alternation gate ORing every rule's
    # necessary condition was tried and REMOVED — interleaved A/B on
    # the 2M corpus measured it SLOWER (median 1.69 s vs 1.37 s): one
    # multi-branch Java regex scan costs more than the shared numeric
    # scan plus six SIMD memchr contains() checks.
    return out


def scrub_py(text: str) -> str:
    """Reference-side equivalent using Python re (for byte-identity
    golden tests)."""
    for _, pat, repl in SCRUB_RULES:
        text = re.sub(pat, repl, text)
    return text


def pii_hit_count(c: Column, scrubbed: Column | None = None) -> Column:
    """How many scrub rules fired for this document (metrics sidecar).

    Pass the already-computed ``scrubbed`` column to skip the five
    per-rule rlike scans for clean documents: a rule firing ALWAYS
    changes the text (every replacement tag contains '<', which no
    rule pattern can match), so ``text == scrubbed`` iff zero rules
    fired — one memcmp instead of five regex passes in the common
    case."""
    out = F.lit(0)
    for _, pat, _repl in SCRUB_RULES:
        out = out + F.when(c.rlike(pat), 1).otherwise(0)
    if scrubbed is not None:
        out = F.when(c == scrubbed, F.lit(0)).otherwise(out)
    return out
