"""The Readability scoring handler — semantics of
/root/reference/readability-sax.ts (readabilitySAX v1.6.1).

This is a from-scratch Python implementation of the same dataflow: SAX
events → pruned, incrementally-scored element tree → top-candidate
selection → text/html serialization. Every quirk called out in
SURVEY.md §2 (Q1-Q11) is replicated intentionally, including:

* Q1  noContent tags (span/font/...) push no node, so their attributes
      and text land on the parent (readability-sax.ts:360-367)
* Q2  tiny <img> renamed to "script" — NOT dropped at close (tagsToSkip
  checks the EVENT tag name, :462), so it survives serialization inert
  and stops counting as an img in the cleaners (:398-404)
* Q4/Q5 div unpack leaves the child's parent pointer stale and loses
      tagScore accumulated on the dropped div (:470-479)
* Q9  totalScore written only to running winners (lib/element.ts:158-163)
* Q10 text serialization: runs of 3+ newlines collapse to exactly 2
      (:708-713)

Parent pointers are translated literally — several reference behaviors
(e.g. the <a><img> replacement effectively dropping both nodes) fall
out of pointer semantics and must not be "fixed".
"""

from __future__ import annotations

import re

from .element import HEADER_TAGS, Element
from .jsstr import ascii_lower, collapse_ws, js_len, js_parse_int, js_trim
from .urls import (
    RE_PROTOCOL,
    URLInfo,
    convert_links,
    get_base_url,
    parse_page_url,
    strip_closing,
)

# ---- tag sets (readability-sax.ts:18-68) ----
TAGS_TO_SKIP = frozenset((
    "aside", "footer", "head", "label", "nav", "noscript", "script",
    "select", "style", "textarea",
))
REMOVE_IF_EMPTY = frozenset((
    "blockquote", "li", "p", "pre", "tbody", "td", "th", "thead", "tr",
))
EMBEDS = frozenset(("embed", "object", "iframe"))
GOOD_ATTRIBUTES = frozenset(("alt", "href", "src", "title"))
CLEAN_CONDITIONALLY = frozenset(("div", "form", "ol", "table", "ul"))
UNPACK_DIVS = frozenset((*EMBEDS, "div", "img"))
FORMAT_TAGS = ("br", "hr")
NO_CONTENT = frozenset((*FORMAT_TAGS, "font", "input", "link", "meta", "span"))
DIV_TO_P_ELEMENTS = ("a", "blockquote", "dl", "img", "ol", "p", "pre", "table", "ul")
OKAY_IF_EMPTY = ("audio", "embed", "iframe", "img", "object", "video")

# ---- regex battery (readability-sax.ts:70-99); JS → Python notes:
#  .test() == .search(); anchors $ → \Z; \d ASCII; /i → re.I | re.ASCII,
#  because a JS /i without the u flag folds ASCII letters only (Python's
#  re.I alone also folds e.g. ſ to s and ı to i)
re_videos = re.compile(r"http://(?:www\.)?(?:youtube|vimeo)\.com")
re_nextLink = re.compile(r"[>»]|continue|next|weiter(?:[^|]|\Z)", re.I | re.ASCII)
re_previousLink = re.compile(r"[<«]|earl|new|old|prev", re.I | re.ASCII)
re_extraneous = re.compile(
    r"all|archive|comment|discuss|e-?mail|login|print|reply|share|sign|single",
    re.I | re.ASCII,
)
re_pages = re.compile(r"pag(?:e|ing|inat)", re.I | re.ASCII)
re_pagenum = re.compile(r"p[ag]{0,2}(?:e|ing|ination)?[=/]\d{1,2}", re.I | re.ASCII)
re_safe = re.compile(r"article-body|hentry|instapaper_body")
re_final = re.compile(r"first|last", re.I | re.ASCII)
re_positive = re.compile(
    r"article|blog|body|content|entry|main|news|pag(?:e|ination)|post|story|text"
)
re_negative = re.compile(
    r"com(?:bx|ment|-)|contact|foot(?:er|note)?|masthead|media|meta|outbrain|promo"
    r"|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool|widget"
)
re_unlikelyCandidates = re.compile(
    r"ad-break|agegate|auth?or|bookmark|cat|com(?:bx|ment|munity)|date|disqus"
    r"|extra|foot|header|ignore|links|menu|nav|pag(?:er|ination)|popup|related"
    r"|remark|rss|share|shoutbox|sidebar|similar|social|sponsor|teaserlist|time"
    r"|tweet|twitter"
)
re_okMaybeItsACandidate = re.compile(r"and|article|body|column|main|shadow")
re_sentence = re.compile(r"\. |\.\Z")
re_digits = re.compile(r"\d", re.ASCII)
re_domain = re.compile(r"/([^/]+)")
re_imgUrl = re.compile(r"\.(gif|jpe?g|png|webp)\Z", re.I | re.ASCII)


def _lowercase_twin(rx: re.Pattern) -> re.Pattern:
    """Case-sensitive copy of an all-lowercase ``re.I | re.ASCII`` regex:
    ``twin.search(ascii_lower(s))`` matches exactly when ``rx.search(s)``
    does, and a case-sensitive alternation scans several times faster."""
    return re.compile(rx.pattern, rx.flags & ~re.I)


# _scan_link runs these on strings it lowercases once each
_re_nextLink_lc = _lowercase_twin(re_nextLink)
_re_previousLink_lc = _lowercase_twin(re_previousLink)
_re_extraneous_lc = _lowercase_twin(re_extraneous)
_re_pages_lc = _lowercase_twin(re_pages)
_re_pagenum_lc = _lowercase_twin(re_pagenum)
_re_final_lc = _lowercase_twin(re_final)

# getTitle internals (readability-sax.ts:650-666)
_re_title_separator = re.compile(r" [|-] ")
_re_title_keep_left = re.compile(r"(.*) [|-] .*")
_re_title_drop_left = re.compile(r".*?[|-] ")

# getText / getHTML cleanup (readability-sax.ts:694-712); JS \s class
from .jsstr import _JS_WS as _WS_CLASS

_re_three_newlines = re.compile(r"\n+(?=\n{2})")
_re_br_before_p = re.compile(f"(?:<br/>(?:[{_WS_CLASS}]|&nbsp;?)*)+")
_re_ws_run = re.compile(f"(?:[{_WS_CLASS}]|&nbsp;?)+")
_re_double_br = re.compile(r"(?:<br/>){2,}")

DEFAULT_SETTINGS = {
    "stripUnlikelyCandidates": True,
    "weightClasses": True,
    "cleanConditionally": True,
    "cleanAttributes": True,
    "replaceImgs": True,
    "searchFurtherPages": True,
    "linksToSkip": {},
    "resolvePaths": False,
    "type": None,
}


class Readability:
    """htmlparser2-handler-shaped scorer; one instance per document.

    The br/hr singleton children (lib/element.ts:178-181) are created
    per instance (not per pass): the reference shares them module-wide,
    so within one document's multi-pass skip loop mutations persist —
    replicated here — while cross-document contamination (a JS
    long-process artifact) is deliberately not.
    """

    def __init__(self, settings: dict | None = None) -> None:
        self._format_tags = {name: Element(name) for name in FORMAT_TAGS}
        self._url: URLInfo | None = None
        self._base_url = ""
        self.onreset()
        self._process_settings(settings or {})

    # ---- lifecycle ----
    def onreset(self) -> None:
        self._current_element = Element("document")
        self._top_candidate: Element | None = None
        self._orig_title = ""
        self._header_title = ""
        self._scanned_links: dict[str, list] = {}  # href -> [score, text]

    def _process_settings(self, settings: dict) -> None:
        s = dict(DEFAULT_SETTINGS)
        s["linksToSkip"] = dict(DEFAULT_SETTINGS["linksToSkip"])
        for key in s:
            if key in settings and settings[key] is not None:
                s[key] = settings[key]
        self._settings = s
        page_url = settings.get("pageURL")
        if page_url:
            self._url = parse_page_url(page_url)
            self._base_url = get_base_url(self._url)

    def set_skip_level(self, skip_level: int) -> None:
        if skip_level == 0:
            return
        if skip_level > 0:
            self._settings["stripUnlikelyCandidates"] = False
        if skip_level > 1:
            self._settings["weightClasses"] = False
        if skip_level > 2:
            self._settings["cleanConditionally"] = False

    # ---- link machinery ----
    def _convert_links(self, path: str) -> str:
        return convert_links(path, self._url, self._settings["resolvePaths"])

    def _scan_link(self, element: Element) -> None:
        href = element.attributes.get("href")
        if not href:
            return
        href = strip_closing(href)

        if href in self._settings["linksToSkip"]:
            return
        if href == self._base_url or (self._url is not None and href == self._url.full):
            return

        match = re_domain.search(href)
        if match is None:
            return
        if self._url is not None and match.group(1) != self._url.domain:
            return

        # the href-only test first: every test before scoring is pure
        if not re_digits.search(href.replace(self._base_url, "", 1)):
            return
        text = element.to_string()
        if js_len(text) > 25:
            return
        text_lc = ascii_lower(text)
        if _re_extraneous_lc.search(text_lc):
            return

        score = 0
        link_data = text + element.element_data
        # element_data is lowercased already (onattribute)
        link_lc = text_lc + element.element_data

        if _re_nextLink_lc.search(link_lc):
            score += 50
        if _re_pages_lc.search(link_lc):
            score += 25

        if _re_final_lc.search(link_lc) and not _re_nextLink_lc.search(text_lc):
            existing = self._scanned_links.get(href)
            if not (existing is not None and _re_nextLink_lc.search(ascii_lower(existing[1]))):
                score -= 65

        if re_negative.search(link_data) or _re_extraneous_lc.search(link_lc):
            score -= 50
        if _re_previousLink_lc.search(link_lc):
            score -= 200

        href_lc = ascii_lower(href)
        if _re_pagenum_lc.search(href_lc) or _re_pages_lc.search(href_lc):
            score += 25
        if _re_extraneous_lc.search(href_lc):
            score -= 15

        current = element
        pos_match = True
        neg_match = True
        while True:
            current = current.parent
            if current is None:
                break
            ed = current.element_data
            if ed == "":
                continue
            if pos_match and _re_pages_lc.search(ed):
                score += 25
                if neg_match:
                    pos_match = False
                else:
                    break
            if neg_match and re_negative.search(ed) and not re_positive.search(ed):
                score -= 25
                if pos_match:
                    neg_match = False
                else:
                    break

        parsed = js_parse_int(text)
        if parsed is not None and parsed < 10:
            if parsed == 1:
                score -= 10
            else:
                score += 10 - parsed

        link = self._scanned_links.get(href)
        if link is not None:
            link[0] += score
            link[1] += f" {text}"
        else:
            self._scanned_links[href] = [score, text]

    # ---- parser callbacks ----
    def onopentagname(self, name: str) -> None:
        if name in NO_CONTENT:
            fmt = self._format_tags.get(name)
            if fmt is not None:
                self._current_element.children.append(fmt)
        else:
            self._current_element = Element(name, self._current_element)

    def onattribute(self, name: str, value: str) -> None:
        if not value:
            return
        name = name.lower()
        element = self._current_element

        if name == "href" or name == "src":
            element.attributes[name] = (
                value if RE_PROTOCOL.match(value) else self._convert_links(value)
            )
        elif name == "id" or name == "class":
            value = value.lower()
            if not self._settings["weightClasses"]:
                pass
            elif re_safe.search(value):
                element.attribute_score += 300
                element.is_candidate = True
            elif re_negative.search(value):
                element.attribute_score -= 25
            elif re_positive.search(value):
                element.attribute_score += 25
            element.element_data += f" {value}"
        elif element.name == "img" and (name == "width" or name == "height"):
            numeric = js_parse_int(value)
            if numeric is None:
                pass
            elif numeric <= 32:
                element.name = "script"  # Q2: neutralized (see module docstring)
            elif numeric >= 390 if name == "width" else numeric >= 290:
                if element.parent is not None:
                    element.parent.attribute_score += 20
            elif (numeric >= 200 if name == "width" else numeric >= 150) and element.parent is not None:
                element.parent.attribute_score += 5
        elif self._settings["cleanAttributes"]:
            if name in GOOD_ATTRIBUTES:
                element.attributes[name] = value
        else:
            element.attributes[name] = value

    def ontext(self, text: str) -> None:
        self._current_element.children.append(text)

    def onclosetag(self, tag_name: str) -> None:
        if tag_name in NO_CONTENT:
            return

        element = self._current_element
        if element.parent is None:
            return
        self._current_element = element.parent

        settings = self._settings

        if settings["searchFurtherPages"] and tag_name == "a":
            self._scan_link(element)
        elif tag_name == "title" and not self._orig_title:
            self._orig_title = collapse_ws(js_trim(element.to_string()))
            return
        elif tag_name in HEADER_TAGS:
            title = collapse_ws(js_trim(element.to_string()))
            if self._orig_title:
                if title in self._orig_title:
                    if len(title.split(" ")) == 4:
                        self._header_title = title
                    return
                if tag_name == "h1":
                    return
            elif tag_name == "h1":
                self._header_title = title
                return

        if tag_name in TAGS_TO_SKIP:
            return
        if (
            settings["stripUnlikelyCandidates"]
            and element.element_data
            and re_unlikelyCandidates.search(element.element_data)
            and not re_okMaybeItsACandidate.search(element.element_data)
        ):
            return
        if (
            tag_name == "div"
            and len(element.children) == 1
            and type(element.children[0]) is Element
            and element.children[0].name in UNPACK_DIVS
        ):
            # unpack divs — Q4: child's parent pointer stays stale;
            # Q5: tagScore accumulated on this div is lost
            element.parent.children.append(element.children[0])
            return

        element.add_info()

        if tag_name in EMBEDS:
            src = element.attributes.get("src")
            if not (src is not None and re_videos.search(src)):
                return
        elif tag_name == "h2" or tag_name == "h3":
            if element.attribute_score < 0 or element.info_density > 0.33:
                return
        elif settings["cleanConditionally"] and tag_name in CLEAN_CONDITIONALLY:
            tag_count = element.info_tag_count
            p = tag_count.get("p", 0)
            content_length = element.info_text_length + element.info_link_length

            if content_length == 0:
                if len(element.children) == 0:
                    return
                if len(element.children) == 1 and type(element.children[0]) is str:
                    return
            if (
                tag_count.get("li", 0) - 100 > p
                and tag_name != "ul"
                and tag_name != "ol"
            ):
                return
            if content_length < 25 and tag_count.get("img", 0) != 1:
                return
            if element.info_density > 0.5:
                return
            if element.attribute_score < 25 and element.info_density > 0.2:
                return
            embed_count = tag_count.get("embed", 0)
            if (embed_count == 1 and content_length < 75) or embed_count > 1:
                return

        if (
            (
                tag_name in REMOVE_IF_EMPTY
                or (not settings["cleanConditionally"] and tag_name in CLEAN_CONDITIONALLY)
            )
            and element.info_link_length == 0
            and element.info_text_length == 0
            and len(element.children) > 0
            and not any(tag in element.info_tag_count for tag in OKAY_IF_EMPTY)
        ):
            return

        if (
            settings["replaceImgs"]
            and tag_name == "a"
            and len(element.children) == 1
            and type(element.children[0]) is Element
            and element.children[0].name == "img"
            and bool(element.attributes.get("href"))
            and re_imgUrl.search(element.attributes["href"])
        ):
            # literal pointer semantics: the img is pushed into its own
            # (stale) parent — the dropped <a> — so both vanish
            element = element.children[0]
            if element.parent is not None:
                element.attributes["src"] = element.parent.attributes.get("href", "")

        if element.parent is None:
            return
        element.parent.children.append(element)

        # Should node be scored?
        if tag_name == "p" or tag_name == "pre" or tag_name == "td":
            pass
        elif tag_name == "div":
            if any(name in element.info_tag_count for name in DIV_TO_P_ELEMENTS):
                return
            element.name = "p"
        else:
            return

        if element.info_text_length + element.info_link_length > 24:
            parent_element = element.parent
            grandparent_element = parent_element.parent
            parent_element.is_candidate = True
            add_score = (
                1
                + element.info_commas
                + min(
                    (element.info_text_length + element.info_link_length) // 100,
                    3,
                )
            )
            parent_element.tag_score += add_score
            if grandparent_element is not None:
                grandparent_element.is_candidate = True
                grandparent_element.tag_score += add_score / 2

    # ---- candidate selection & output ----
    def _get_candidate_node(self) -> Element:
        element = self._top_candidate
        if element is None:
            element = self._top_candidate = self._current_element.get_top_candidate()

        if element is None:
            element = self._current_element
        elif element.parent is not None and len(element.parent.children) > 1:
            siblings = _get_candidate_siblings(element)
            element = Element("div")
            element.children = siblings
            element.add_info()

        while len(element.children) == 1:
            if type(element.children[0]) is Element:
                element = element.children[0]
            else:
                break

        return element

    def get_title(self) -> str:
        if self._header_title:
            return self._header_title
        if not self._orig_title:
            return ""

        current_title = self._orig_title

        if _re_title_separator.search(current_title):
            current_title = _re_title_keep_left.sub(r"\1", current_title, count=1)
            if len(current_title.split(" ")) != 3:
                current_title = _re_title_drop_left.sub("", self._orig_title, count=1)
        elif ": " in current_title:
            current_title = current_title[current_title.rindex(": ") + 2 :]
            if len(current_title.split(" ")) != 3:
                # substr from indexOf(': ') — keeps the ': ' prefix (Q11)
                current_title = self._orig_title[self._orig_title.index(": ") :]

        current_title = js_trim(current_title)

        if len(current_title.split(" ")) != 5:
            return self._orig_title
        return current_title

    def get_next_page(self) -> str:
        top_score = 49
        top_link = ""
        for href, link in self._scanned_links.items():
            if link[0] > top_score:
                top_link = href
                top_score = link[0]
        return top_link

    def get_html(self, node: Element | None = None) -> str:
        if node is None:
            node = self._get_candidate_node()
        html = node.get_inner_html()
        # each <br/> rewrite below is the identity on html without one
        if "<br/>" not in html:
            return js_trim(html)
        # Remove <br>s in front of opening & closing <p>s
        html = _re_br_before_p.sub(
            lambda m: "" if m.string.startswith(("<p", "</p"), m.end()) else m.group(),
            html,
        )
        # Remove spaces in front of <br>s
        html = _re_ws_run.sub(
            lambda m: "" if m.string.startswith("<br/>", m.end()) else m.group(),
            html,
        )
        html = _re_double_br.sub("</p><p>", html)
        return js_trim(html)

    def get_text(self, node: Element | None = None) -> str:
        if node is None:
            node = self._get_candidate_node()
        return _re_three_newlines.sub("", js_trim(node.get_formatted_text()))

    def get_article(self, type_: str | None = None, node: Element | None = None) -> dict:
        """The ArticleResult of the current pass; ``node`` is this pass's
        ``_get_candidate_node()`` when the caller already has it."""
        element = node if node is not None else self._get_candidate_node()

        result = {
            "title": self._header_title if len(self._header_title) > 0 else self.get_title(),
            "nextPage": self.get_next_page(),
            "textLength": element.info_text_length,
            "score": self._top_candidate.total_score if self._top_candidate is not None else 0,
        }

        if not type_ and self._settings["type"]:
            type_ = self._settings["type"]

        if type_ == "text":
            result["text"] = self.get_text(element)
        else:
            result["html"] = self.get_html(element)

        return result


def _get_candidate_siblings(candidate: Element) -> list[Element]:
    """readability-sax.ts:124-160."""
    result: list[Element] = []
    parent = candidate.parent
    if parent is None:
        return result
    sibling_score_threshold = max(10, candidate.total_score * 0.2)

    for child in parent.children:
        if type(child) is str:
            continue
        if child is candidate:
            pass
        elif candidate.element_data == child.element_data:
            if child.total_score + candidate.total_score * 0.2 >= sibling_score_threshold:
                if child.name != "p":
                    child.name = "div"
            else:
                continue
        elif child.name == "p":
            if child.info_text_length >= 80 and child.info_density < 0.25:
                pass
            elif (
                child.info_text_length < 80
                and child.info_density == 0
                and re_sentence.search(child.to_string())
            ):
                pass
            else:
                continue
        else:
            continue
        result.append(child)
    return result
