"""JavaScript string semantics helpers.

The reference engine (readabilitySAX, /root/reference/readability-sax.ts)
measures text with JS `String.prototype.length` (UTF-16 code units),
trims with the ECMAScript WhiteSpace set, and matches `\\s` with the JS
regex whitespace class. Python's defaults differ in edge cases
(``\\x1c-\\x1f`` are Python-whitespace but not JS; ``\\ufeff`` is
JS-whitespace but not Python), so byte-identical extraction requires
these exact re-implementations.
"""

from __future__ import annotations

import re

# ECMAScript WhiteSpace + LineTerminator (the set matched by /\s/ and
# trimmed by String.prototype.trim): TAB LF VT FF CR SP NBSP, the
# Unicode Zs category members, LS/PS, and ZWNBSP/BOM.
_JS_WS = "".join(
    chr(c)
    for c in (
        0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x20, 0xA0, 0x1680,
        *range(0x2000, 0x200B),
        0x2028, 0x2029, 0x202F, 0x205F, 0x3000, 0xFEFF,
    )
)

# /\s+/g equivalent (lib/element.ts:3 reWhitespace)
RE_WHITESPACE = re.compile(f"[{_JS_WS}]+")
_RE_TRIM = re.compile(f"^[{_JS_WS}]+|[{_JS_WS}]+$")
# /,[\s,]*/ (lib/element.ts:1 reCommas)
RE_COMMAS = re.compile(f",[{_JS_WS},]*")

_RE_PARSEINT = re.compile(f"^[{_JS_WS}]*([+-]?[0-9]+)")


_JS_WS_SET = frozenset(_JS_WS)


# the ASCII subset of JS \s — str.strip(these) is exact for ASCII
# strings and never touches \x1c-\x1f (Python-\s-only, NOT JS ws)
_JS_WS_ASCII = " \t\n\r\x0b\x0c"


def js_trim(s: str) -> str:
    """String.prototype.trim — trims the JS whitespace set only."""
    if not s or (s[0] not in _JS_WS_SET and s[-1] not in _JS_WS_SET):
        return s
    if s.isascii():
        return s.strip(_JS_WS_ASCII)
    return _RE_TRIM.sub("", s)


def js_len(s: str) -> int:
    """String.prototype.length — UTF-16 code units (astral chars count 2)."""
    if s.isascii():
        return len(s)
    # C-speed: UTF-16 byte length / 2 counts surrogate pairs as 2
    return len(s.encode("utf-16-le", "surrogatepass")) >> 1


def js_parse_int(s: str) -> int | None:
    """Number.parseInt(s, 10): leading whitespace + sign + digits, else NaN (None)."""
    m = _RE_PARSEINT.match(s)
    if m is None:
        return None
    return int(m.group(1))


_ASCII_LOWER = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


def ascii_lower(s: str) -> str:
    """Lowercase A-Z only — the case folding of a JS ``/i`` regex without
    the ``u`` flag (str.lower() also maps e.g. U+212A KELVIN SIGN to k)."""
    if s.isascii():
        return s.lower()
    return s.translate(_ASCII_LOWER)


def collapse_ws(s: str) -> str:
    """s.replace(/\\s+/g, " ") with JS whitespace semantics."""
    return RE_WHITESPACE.sub(" ", s)
