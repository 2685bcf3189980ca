"""HTML tokenizer + parser producing the handler-level SAX event stream.

Reproduces the observable behavior of htmlparser2 v10.1.0 with default
html-mode options (the tokenizer that drives the reference engine — see
/root/reference/lib/process.ts:19 and SURVEY.md §3.5), *fused* with the
Parser layer (tag stack, implied closes, void elements, foreign
context), emitting exactly the callback sequence the reference's
``Readability`` handler receives:

    (OPEN, name) (ATTR, name, value) (TEXT, text) (CLOSE, name)

Design: a scanning tokenizer (regex jumps, no per-character Python
loop) that emits into a flat event list. One compiled search finds the
next ``<`` and, for the dominant shapes — an open tag whose attributes
are all whitespace-separated ``name="value"`` pairs, or a bare
``</name>`` — matches the whole tag; every other ``<`` goes through an
exact port of htmlparser2's tag states. The event stream is
independent of Readability settings, so the ≤4-pass skip-level loop
(lib/process.ts:22-29) tokenizes once and replays the list per pass.

Must-match behaviors (SURVEY.md §3.5):
  * tag/attribute names lowercased; duplicate attributes each fire
    (the reference registers no ``onopentag``, so the Parser's dedup
    path is inactive)
  * entities decoded in text and attribute values per HTML5 legacy /
    attribute rules; each decoded text entity is a SEPARATE text event
  * void elements close immediately; ``</br>`` emits open+close br;
    ``</p>`` with no open p emits an implicit empty p
  * openImpliesClose (new <p> closes <p>, <li> closes <li>, ...)
  * rawtext elements: script/style (no entity decode) and
    title/textarea (RCDATA, entities decoded)
  * end-of-input closes all open tags; mid-tag EOF drops the tag
"""

from __future__ import annotations

import re

from .entities import decode_attribute_value, split_text_entities

OPEN, ATTR, TEXT, CLOSE = 0, 1, 2, 3

VOID_ELEMENTS = frozenset((
    "area", "base", "basefont", "br", "col", "command", "embed", "frame",
    "hr", "img", "input", "isindex", "keygen", "link", "meta", "param",
    "source", "track", "wbr",
))

_FOREIGN = frozenset(("math", "svg"))
# htmlparser2 keeps "foreignObject" camel-cased while lowercasing input
# names, so that entry can never match in html mode — kept verbatim.
_INTEGRATION = frozenset((
    "mi", "mo", "mn", "ms", "mtext", "annotation-xml", "foreignObject",
    "desc", "title",
))
# the foreign-context flag each of these tags pushes (True: foreign)
_FOREIGN_FLAG = {**dict.fromkeys(_INTEGRATION, False), **dict.fromkeys(_FOREIGN, True)}

_FORM_TAGS = frozenset(("input", "option", "optgroup", "select", "button", "datalist", "textarea"))
_P_TAG = frozenset(("p",))
_TABLE_SECTION = frozenset(("thead", "tbody"))
_DDT = frozenset(("dd", "dt"))
_RTP = frozenset(("rt", "rp"))

OPEN_IMPLIES_CLOSE: dict[str, frozenset[str]] = {
    "tr": frozenset(("tr", "th", "td")),
    "th": frozenset(("th",)),
    "td": frozenset(("thead", "th", "td")),
    "body": frozenset(("head", "link", "script")),
    "li": frozenset(("li",)),
    "p": _P_TAG, "h1": _P_TAG, "h2": _P_TAG, "h3": _P_TAG, "h4": _P_TAG,
    "h5": _P_TAG, "h6": _P_TAG,
    "select": _FORM_TAGS, "input": _FORM_TAGS, "output": _FORM_TAGS,
    "button": _FORM_TAGS, "datalist": _FORM_TAGS, "textarea": _FORM_TAGS,
    "option": frozenset(("option",)),
    "optgroup": frozenset(("optgroup", "option")),
    "dd": _DDT, "dt": _DDT,
    "address": _P_TAG, "article": _P_TAG, "aside": _P_TAG,
    "blockquote": _P_TAG, "details": _P_TAG, "div": _P_TAG, "dl": _P_TAG,
    "fieldset": _P_TAG, "figcaption": _P_TAG, "figure": _P_TAG,
    "footer": _P_TAG, "form": _P_TAG, "header": _P_TAG, "hr": _P_TAG,
    "main": _P_TAG, "nav": _P_TAG, "ol": _P_TAG, "pre": _P_TAG,
    "section": _P_TAG, "table": _P_TAG, "ul": _P_TAG,
    "rt": _RTP, "rp": _RTP,
    "tbody": _TABLE_SECTION, "tfoot": _TABLE_SECTION,
}

# htmlparser2 isWhitespace: space \n \t \f \r (NOT \v)
_WS = "\t\n\f\r "
_RE_TAG_NAME = re.compile(r"[^\t\n\f\r />]+")
# closing tag names end only at '>' or whitespace ('/' is a name char)
_RE_CLOSING_NAME = re.compile(r"[^\t\n\f\r >]+")
_RE_ATTR_NAME = re.compile(r"[^\t\n\f\r =/>]+")
# htmlparser2 quirk: a '=' in attribute-name START position is consumed
# into the name ("<div =x>" → attribute named "=x")
_RE_ATTR_NAME_EQ = re.compile(r"=[^\t\n\f\r =/>]*")
_RE_WS = re.compile(r"[\t\n\f\r ]*")
_RE_UNQUOTED_VALUE = re.compile(r"[^\t\n\f\r >&]*")

# One search per tag: "<" followed, optionally, by a simple open tag
# (groups 1-2: name, then ws-separated name="v"/name='v' pairs, then
# optional ws and ">") or a simple close tag (group 3: "</name>"). The
# name classes are those of the state loop; the quantifiers are
# possessive so the attribute block cannot backtrack into a name. A
# bare "<" match falls through to the state loop.
_RE_TAG = re.compile(
    r"<(?:([a-zA-Z][^\t\n\f\r />]*+)"
    r"((?:[\t\n\f\r ]++[^\t\n\f\r =/>]++=(?:\"[^\"]*+\"|'[^']*+'))*+)"
    r"[\t\n\f\r ]*+>"
    r"|/([a-zA-Z][^\t\n\f\r >]*+)>)?"
)
_RE_ATTR_PAIR = re.compile(r"([^\t\n\f\r =/>]++)=(\"[^\"]*+\"|'[^']*+')")

_SPECIAL_TAGS = ("script", "style", "title", "textarea")
# "</name" followed by > or whitespace terminates rawtext content
_SPECIAL_END = {
    name: re.compile(
        "</" + "".join(f"[{c}{c.upper()}]" for c in name) + r"(?=[>\t\n\f\r ])"
    )
    for name in _SPECIAL_TAGS
}
_RCDATA = frozenset(("title", "textarea"))

_ASCII_ALPHA = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
)
_WS_SET = frozenset(_WS)


def tokenize(html: str) -> list[tuple]:
    """Parse ``html`` into the flat handler-level event list."""
    ev: list[tuple] = []
    ev_append = ev.append
    stack: list[str] = []
    foreign: list[bool] = []
    n = len(html)

    def emit_text(start: int, end: int) -> None:
        seg = html[start:end]
        if "&" not in seg:  # fast path: no entity can split the chunk
            if seg:
                ev_append((TEXT, seg))
            return
        for chunk in split_text_entities(seg):
            ev_append((TEXT, chunk))

    def emit_raw_text(start: int, end: int) -> None:
        if end > start:
            ev_append((TEXT, html[start:end]))

    def emit_open(name: str) -> None:
        # Parser.emitOpenTag: implied closes, stack push, foreign push
        implies = OPEN_IMPLIES_CLOSE.get(name)
        if implies:
            while stack and stack[-1] in implies:
                ev_append((CLOSE, stack.pop()))
        if name not in VOID_ELEMENTS:
            stack.append(name)
            flag = _FOREIGN_FLAG.get(name)
            if flag is not None:
                foreign.append(flag)
        ev_append((OPEN, name))

    def emit_explicit_close(name: str) -> None:
        # Parser.onclosetag
        if name in _FOREIGN_FLAG:
            if foreign:
                foreign.pop()
        if name in VOID_ELEMENTS:
            if name == "br":
                ev_append((OPEN, "br"))
                ev_append((CLOSE, "br"))
        elif stack and stack[-1] == name:
            ev_append((CLOSE, stack.pop()))
        elif name in stack:
            # close everything above the innermost open `name`, then it
            while True:
                top = stack.pop()
                ev_append((CLOSE, top))
                if top == name:
                    break
        elif name == "p":
            # implicit <p></p>
            emit_open("p")
            if stack and stack[-1] == "p":
                ev_append((CLOSE, stack.pop()))

    html_find = html.find

    def rawtext(name: str, start: int) -> int:
        """Content of a script/style/title/textarea up to its end tag,
        then the close; returns the scan position after the end tag."""
        emit = emit_text if name in _RCDATA else emit_raw_text
        m2 = _SPECIAL_END[name].search(html, start)
        if m2 is None:
            # EOF inside rawtext: trailing content is text
            emit(start, n)
            return n
        emit(start, m2.start())
        emit_explicit_close(name)
        # AfterClosingTagName: consume to '>'
        gt = html_find(">", m2.end())
        return (gt + 1) if gt >= 0 else n

    i = 0    # scan position
    sec = 0  # current text section start
    tag_search = _RE_TAG.search

    while True:
        m = tag_search(html, i)
        if m is None:
            break
        lt = m.start()
        if lt > sec:
            emit_text(sec, lt)

        name = m[1]
        if name is not None:
            # ---- simple open tag ----
            name = name.lower()
            emit_open(name)
            attrs = m[2]
            if attrs:
                for attr_name, quoted in _RE_ATTR_PAIR.findall(attrs):
                    if len(quoted) > 2:
                        value = decode_attribute_value(quoted[1:-1])
                        if value:
                            ev_append((ATTR, attr_name.lower(), value))
            i = sec = m.end()
            if name in VOID_ELEMENTS:
                ev_append((CLOSE, name))
            elif name in _SPECIAL_END:
                i = sec = rawtext(name, i)
            continue
        name = m[3]
        if name is not None:
            # ---- simple close tag ----
            emit_explicit_close(name.lower())
            i = sec = m.end()
            continue

        nxt = html[lt + 1] if lt + 1 < n else ""
        if nxt in _ASCII_ALPHA:
            # ---- open tag ----
            m = _RE_TAG_NAME.match(html, lt + 1)
            name_end = m.end()
            if name_end >= n:
                # EOF inside tag name: tag ignored entirely
                i = sec = n
                break
            name = m.group().lower()
            emit_open(name)

            # ---- attribute loop ----
            p = name_end
            self_closing = False
            tag_ok = False  # did we reach '>'
            while p < n:
                if html[p] in _WS_SET:
                    p = _RE_WS.match(html, p).end()
                if p >= n:
                    break
                c = html[p]
                if c == ">":
                    p += 1
                    tag_ok = True
                    break
                if c == "/":
                    # stateInSelfClosingTag: ws skipped; '>' => self-close;
                    # any other char => back to attributes
                    q = _RE_WS.match(html, p + 1).end()
                    if q < n and html[q] == ">":
                        self_closing = True
                        p = q + 1
                        tag_ok = True
                        break
                    p = q
                    continue
                # attribute name ('=' in first position joins the name)
                am = (_RE_ATTR_NAME_EQ if c == "=" else _RE_ATTR_NAME).match(html, p)
                attr_name = am.group().lower()
                p = am.end()
                # AfterAttributeName: skip whitespace
                if p < n and html[p] in _WS_SET:
                    p = _RE_WS.match(html, p).end()
                if p < n and html[p] == "=":
                    p += 1
                    if p < n and html[p] in _WS_SET:
                        p = _RE_WS.match(html, p).end()
                    if p >= n:
                        break
                    q = html[p]
                    if q == '"' or q == "'":
                        vend = html_find(q, p + 1)
                        if vend < 0:
                            p = n  # EOF in quoted value: attr dropped
                            break
                        if attr_name:
                            value = decode_attribute_value(html[p + 1 : vend])
                            if value:
                                ev_append((ATTR, attr_name, value))
                        p = vend + 1
                    else:
                        vm = _RE_UNQUOTED_VALUE.match(html, p)
                        vend = vm.end()
                        # unquoted values may contain '&': extend across
                        # entity boundaries (regex stops at & and >)
                        vstart = p
                        while vend < n and html[vend] == "&":
                            vend2 = _RE_UNQUOTED_VALUE.match(html, vend + 1).end()
                            vend = vend2
                        if vend >= n:
                            # EOF inside an unquoted value: htmlparser2's
                            # handleTrailingData ignores InAttributeValueNq,
                            # so the attribute is dropped with the tag
                            p = n
                            break
                        value_raw = html[vstart:vend]
                        if attr_name and value_raw:
                            value = decode_attribute_value(value_raw)
                            if value:
                                ev_append((ATTR, attr_name, value))
                        p = vend
                else:
                    # valueless attribute: value "" — Readability ignores
                    continue

            if not tag_ok:
                # EOF mid-tag: opentagend never fires; no void close.
                # The tag name itself was committed (stack push + OPEN).
                i = sec = n
                break

            if name in VOID_ELEMENTS:
                ev_append((CLOSE, name))
            elif self_closing and foreign and foreign[-1] and stack and stack[-1] == name:
                # "/>" closes only in foreign content (Parser.closeCurrentTag)
                ev_append((CLOSE, stack.pop()))

            i = sec = p

            # ---- rawtext content ----
            if name in _SPECIAL_END and not self_closing:
                i = sec = rawtext(name, p)

        elif nxt == "/":
            # ---- closing tag ----
            p = _RE_WS.match(html, lt + 2).end()
            if p >= n:
                # "</" (+ws) at EOF: falls through as text from '<'
                sec = lt
                i = n
                break
            c = html[p]
            if c == ">":
                i = sec = p + 1
            elif c in _ASCII_ALPHA:
                m = _RE_CLOSING_NAME.match(html, p)
                name_end = m.end()
                if name_end >= n:
                    i = sec = n  # EOF in closing name: ignored
                    break
                emit_explicit_close(m.group().lower())
                gt = html_find(">", name_end)
                i = sec = (gt + 1) if gt >= 0 else n
            else:
                # InSpecialComment: consumed to '>', emitted as comment
                gt = html_find(">", p)
                if gt < 0:
                    # EOF: htmlparser2 emits remaining as text
                    emit_raw_text(p, n)
                    i = sec = n
                    break
                i = sec = gt + 1

        elif nxt == "!":
            if html.startswith("--", lt + 2):
                # comment; "--" of opener may overlap with "-->"
                end = html.find("-->", lt + 2)
                i = sec = (end + 3) if end >= 0 else n
            elif html.startswith("[CDATA[", lt + 2):
                end = html.find("]]>", lt + 9)
                i = sec = (end + 3) if end >= 0 else n
            else:
                gt = html_find(">", lt + 2)
                if gt < 0:
                    # EOF in declaration: htmlparser2 emits content as text
                    emit_raw_text(lt + 2, n)
                    i = sec = n
                    break
                i = sec = gt + 1

        elif nxt == "?":
            gt = html_find(">", lt + 2)
            if gt < 0:
                emit_raw_text(lt + 2, n)
                i = sec = n
                break
            i = sec = gt + 1

        else:
            # '<' is text (also '<' at EOF): section break, '<' starts
            # the next text section
            sec = lt
            i = lt + 1

    if sec < n:
        emit_text(sec, n)

    # end(): close all remaining open tags
    while stack:
        ev_append((CLOSE, stack.pop()))

    return ev


def replay(events: list[tuple], handler) -> None:
    """Feed a tokenized event list into a Readability-style handler."""
    on_open = handler.onopentagname
    on_attr = handler.onattribute
    on_text = handler.ontext
    on_close = handler.onclosetag
    for e in events:
        op = e[0]
        if op == TEXT:
            on_text(e[1])
        elif op == OPEN:
            on_open(e[1])
        elif op == ATTR:
            on_attr(e[1], e[2])
        else:
            on_close(e[1])
