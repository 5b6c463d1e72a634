"""Balanced-brace scanners for template machinery.

Linear-scan re-expressions of the reference's two hot-path scanners
(``/root/reference/lib/Wikiprep/Templates/C.pm:24-191`` — the authoritative
implementation used to produce the golden outputs; the pure-Perl fallback in
``Templates/PurePerl.pm`` matches it on all well-formed input) plus the
template-parameter ``{{{...}}}`` matcher (the balanced-parens regex at
``Templates.pm:101-123``), which Python's ``re`` cannot express and is
implemented here as an explicit scanner.

These run per Arrow batch inside pandas UDFs — plain Python, module-level
compiled state, no per-row Spark overhead.
"""

from __future__ import annotations

import re

_ASCII_WS = " \t\n\r\f\v"
_BRACE_RE = re.compile(r"[{}]")
_PIPE_OR_NEST_RE = re.compile(r"[|{}\[\]]")


def split_on_templates(text: str) -> list:
    """Tokenize text into [text, invocation, text, invocation, ... text].

    Odd positions are the contents of top-level ``{{ ... }}`` blocks (braces
    stripped); even positions are ordinary text.  Nested braces inside an
    invocation are kept; an unterminated ``{{`` stays in the trailing text.
    Mirrors the C scanner semantics exactly, including the quirk that the
    second '{' of the opener bumps the depth counter, so termination needs
    a '}}' with all inner braces (and the opener's own second '{') closed.

    Only brace positions change the scanner state, so the scan jumps from
    one brace to the next (``str.find`` for the opener, a compiled
    character-class ``finditer`` inside an invocation) instead of stepping
    through every character.
    """
    out = []
    text_start = pos = 0
    find = text.find
    while True:
        opener = find("{{", pos)
        if opener == -1:
            break
        depth = 0
        # starts AT the opener's second '{' (the C scanner's depth quirk)
        for m in _BRACE_RE.finditer(text, opener + 1):
            i = m.start()
            if text[i] == "{":
                depth += 1
            elif depth:
                depth -= 1
            elif text[i - 1] == "}":
                # '}}' at depth 0: text[i - 1] is a '}' already seen here
                out.append(text[text_start:opener])
                out.append(text[opener + 2:i - 1])
                text_start = pos = i + 1
                break
        else:
            break  # unterminated: the '{{' stays in the trailing text
    out.append(text[text_start:])
    return out


def split_template_invocation(invocation: str) -> list:
    """Split an invocation on '|' symbols not nested inside braces/brackets,
    trimming ASCII whitespace from each field (C.pm:138-191).  Empty input
    yields an empty list."""
    if invocation == "":
        return []
    if "{" not in invocation and "[" not in invocation:
        # nothing can nest: every '|' separates
        return [f.strip(_ASCII_WS) for f in invocation.split("|")]
    params = []
    brace = square = start = 0
    for m in _PIPE_OR_NEST_RE.finditer(invocation):
        i = m.start()
        c = invocation[i]
        if c == "|":
            if not brace and not square:
                params.append(invocation[start:i].strip(_ASCII_WS))
                start = i + 1
        elif c == "{":
            brace += 1
        elif c == "[":
            square += 1
        elif c == "}":
            if brace:
                brace -= 1
        elif square:
            square -= 1
    params.append(invocation[start:].strip(_ASCII_WS))
    return params


def _match_param_at(text: str, i: int):
    """Try to match the {{{name|default}}} parameter pattern starting at
    position i (where text[i:i+3] == '{{{').

    Returns (inner, end) on success — ``inner`` is everything between the
    outer brace triples — or None.  Equivalent to the reference paramRegex
    (Templates.pm:101-123): the name may not contain '|', '{' or '}'; the
    optional default (after '|') may contain balanced brace groups but no
    unmatched braces.
    """
    n = len(text)
    j = i + 3
    while j < n and text[j] not in "|{}":
        j += 1
    if text.startswith("}}}", j):
        return text[i + 3 : j], j + 3
    if j < n and text[j] == "|":
        k = j + 1
        depth = 0
        while k < n:
            c = text[k]
            if c == "{":
                depth += 1
            elif c == "}":
                if depth > 0:
                    depth -= 1
                elif text.startswith("}}}", k):
                    return text[i + 3 : k], k + 3
                else:
                    return None
            k += 1
    return None


def sub_params_once(text: str, repl) -> tuple:
    """One s/paramRegex/repl(inner)/g pass: replace every non-overlapping
    {{{...}}} parameter reference left-to-right. Returns (new_text, count)."""
    out = []
    last = 0
    i = text.find("{{{")
    count = 0
    n = len(text)
    while i != -1:
        m = _match_param_at(text, i)
        if m is not None:
            inner, end = m
            out.append(text[last:i])
            out.append(repl(inner))
            last = end
            i = text.find("{{{", end)
            count += 1
        else:
            i = text.find("{{{", i + 1)
    if count == 0:
        return text, 0
    out.append(text[last:])
    return "".join(out), count


_PARAM_NAME_DEFAULT_RE = re.compile(r"([^|]*)\|(.*)$", re.S)


def substitute_parameter(inner: str, params: dict) -> str:
    """Substitute one {{{...}}} reference given the invocation's parameter
    hash (PurePerl.pm:100-134 / C.pm:193-226): the part before the first '|'
    is the name; a missing parameter takes the default after the '|', or ''
    if there is none (the reference deliberately expands unset parameters to
    the empty string rather than keeping the braces)."""
    m = _PARAM_NAME_DEFAULT_RE.match(inner)
    if m:
        name, default = m.group(1), m.group(2)
        return params.get(name, default)
    return params.get(inner, "")


def template_parameter_recursion(text: str, params: dict) -> str:
    """Iteratively substitute nested {{{...}}} references, innermost-first,
    capped at MAX_PARAMETER_RECURSION_LEVELS (Templates.pm:155-168)."""
    from wikiprep_spark.config import MAX_PARAMETER_RECURSION_LEVELS

    for _ in range(MAX_PARAMETER_RECURSION_LEVELS):
        text, count = sub_params_once(
            text, lambda inner: substitute_parameter(inner, params)
        )
        if count == 0:
            break
    return text


def strip_parameter_refs(text: str) -> str:
    """Remove {{{...}}} references outright — applied to invocation tokens in
    the page body itself at recursion level 0 (Templates.pm:372)."""
    new, _ = sub_params_once(text, lambda inner: "")
    return new


def parse_template_invocation(raw_params: list) -> dict:
    """Build the parameter hash from raw pipe-split fields
    (Templates.pm:173-215): named parameters split on the first
    whitespace-padded '=' (name must not contain '|'); unnamed parameters are
    numbered '1', '2', ... in order; later assignments win."""
    params = {}
    unnamed = 1
    for p in raw_params:
        parts = re.split(r"\s*=\s*", p, maxsplit=1)
        name = parts[0]
        if len(parts) == 2 and "|" not in name:
            params[name] = parts[1]
        else:
            params[str(unnamed)] = p
            unnamed += 1
    return params
