"""Character-at-a-time versions of the two brace scanners in
wikiprep_spark/functions/tmplscan.py — a direct transcription of the
reference's C scanners (Templates/C.pm:24-191), kept as the oracle the
brace-position scanners are property-tested against
(tests/test_properties.py)."""

_ASCII_WS = " \t\n\r\f\v"


def split_on_templates_chars(text: str) -> list:
    """Tokenize text into [text, invocation, text, invocation, ... text].

    Odd positions are the contents of top-level ``{{ ... }}`` blocks (braces
    stripped); even positions are ordinary text.  Nested braces inside an
    invocation are kept; an unterminated ``{{`` stays in the trailing text.
    Mirrors the C scanner semantics exactly, including the quirk that the
    second '{' of the opener bumps the depth counter, so termination needs
    a '}}' with all inner braces (and the opener's own second '{') closed.
    """
    if text == "":
        return [""]
    n = len(text)
    out = []
    text_start = 0
    prev = 0
    cur = 1
    while True:
        # search for the '{{' opener
        while not (
            cur < n and text[prev] == "{" and text[cur] == "{"
        ):
            if cur >= n:
                out.append(text[text_start:])
                return out
            prev = cur
            cur += 1
        template_start = cur + 1
        depth = 0
        # scan for '}}' at depth 0
        while True:
            if cur < n and (
                text[prev] == "}" and text[cur] == "}" and depth == 0
            ):
                break
            if cur >= n:
                out.append(text[text_start:])
                return out
            c = text[cur]
            if c == "{":
                depth += 1
            elif c == "}":
                if depth > 0:
                    depth -= 1
            prev = cur
            cur += 1
        text_end = template_start - 2
        out.append(text[text_start:text_end])
        out.append(text[template_start:prev])
        text_start = cur + 1
        prev = cur
        cur += 1


def split_template_invocation_chars(invocation: str) -> list:
    """Split an invocation on '|' symbols not nested inside braces/brackets,
    trimming ASCII whitespace from each field (C.pm:138-191).  Empty input
    yields an empty list."""
    if invocation == "":
        return []
    params = []
    brace = 0
    square = 0
    start = 0
    for i, c in enumerate(invocation):
        if c == "|":
            if brace == 0 and square == 0:
                params.append(invocation[start:i].strip(_ASCII_WS))
                start = i + 1
        elif c == "{":
            brace += 1
        elif c == "}":
            if brace > 0:
                brace -= 1
        elif c == "[":
            square += 1
        elif c == "]":
            if square > 0:
                square -= 1
    params.append(invocation[start:].strip(_ASCII_WS))
    return params

