"""URL helpers — semantics of /root/reference/lib/get-base-url.ts and the
pageURL decomposition + relative-link resolution in
/root/reference/readability-sax.ts:226-269.

Deliberately NOT urllib.parse.urljoin: the reference's resolver has its
own segment semantics (e.g. ``foo/`` appends to the page *path*, the
optional ``..``-collapsing fixpoint loop) that urljoin does not share —
see /root/reference/tests/readability.test.ts:52-77.
"""

from __future__ import annotations

import re

# get-base-url.ts:1-6
_RE_PAGE_IN_URL = re.compile(r"[_-]?p[a-zA-Z]*[_-]?\d{1,2}\Z", re.ASCII)
# re.ASCII: the reference's /\d+/ matches ASCII digits only (the re.I
# case class is a-z only, unaffected by ASCII mode)
_RE_BAD_FIRST = re.compile(r"^(?:[^a-z]{0,3}|index|\d+)\Z", re.I | re.ASCII)
_RE_NO_LETTERS = re.compile(r"[^a-zA-Z]")
_RE_PARAMETERS = re.compile(r"\?.*")
_RE_EXTENSION = re.compile(r"00,|\.[a-zA-Z]+\Z")
_RE_JUST_DIGITS = re.compile(r"^\d{1,2}\Z", re.ASCII)

# readability-sax.ts:92-98
RE_SLASHES = re.compile(r"/+")
RE_PROTOCOL = re.compile(r"^\w+:", re.ASCII)
RE_CLEAN_PATHS = re.compile(r"/\.(?!\.)|/[^/]*/\.\.")
RE_CLOSING = re.compile(r"/?(?:#.*)?\Z")


def strip_closing(s: str) -> str:
    """``RE_CLOSING.sub("", s, count=1)``: drop a trailing ``/`` and any
    ``#`` fragment. Without a ``#`` only one trailing ``/`` can match,
    which string ops find without the regex trying every position."""
    if "#" in s:
        return RE_CLOSING.sub("", s, count=1)
    return s[:-1] if s.endswith("/") else s


class URLInfo:
    __slots__ = ("protocol", "domain", "path", "full")

    def __init__(self, protocol: str, domain: str, path: list[str], full: str):
        self.protocol = protocol
        self.domain = domain
        self.path = path
        self.full = full


def parse_page_url(page_url: str) -> URLInfo:
    """pageURL → URLInfo (readability-sax.ts:226-236)."""
    parts = RE_SLASHES.split(page_url)
    return URLInfo(
        protocol=parts[0] if parts else "",
        domain=parts[1] if len(parts) > 1 else "",
        path=parts[2:-1],
        full=strip_closing(page_url),
    )


def get_base_url(url: URLInfo) -> str:
    """Article base URL for pagination matching (get-base-url.ts:20-54)."""
    if not url.path:
        return _RE_PARAMETERS.sub("", url.full, count=1)

    cleaned_parts: list[str] = []
    last_path_index = len(url.path) - 1
    for index in range(last_path_index):
        # /g flag on reExtension: replace all occurrences
        cleaned_parts.append("/" + _RE_EXTENSION.sub("", url.path[index]))

    first = re.sub(r".*/", "", _RE_PARAMETERS.sub("", url.full, count=1), count=1)
    second = url.path[last_path_index]

    if not (len(second) < 3 and _RE_NO_LETTERS.search(first)) and not _RE_JUST_DIGITS.match(second):
        cleaned_parts.append(
            "/" + (_RE_PAGE_IN_URL.sub("", second) if _RE_PAGE_IN_URL.search(second) else second)
        )
    if not _RE_BAD_FIRST.match(first):
        cleaned_parts.append(
            "/" + (_RE_PAGE_IN_URL.sub("", first) if _RE_PAGE_IN_URL.search(first) else first)
        )

    return f"{url.protocol}//{url.domain}{''.join(cleaned_parts)}"


def convert_links(path: str, url: URLInfo | None, resolve_paths: bool) -> str:
    """Relative-URL resolution (readability-sax.ts:240-269)."""
    if url is None:
        return path
    if not path:
        return url.full

    path_split = path.split("/")

    if len(path_split) > 1 and path_split[1] == "":
        if path_split[0] == "":
            # "//host/..." — protocol-relative
            return url.protocol + path
        if path_split[0].endswith(":"):
            return path

    if path_split[0] == "":
        path_split.pop(0)
    else:
        path_split = url.path + path_split

    path = "/".join(path_split)

    if resolve_paths:
        while True:
            new_path = RE_CLEAN_PATHS.sub("", path, count=1)
            if new_path == path:
                break
            path = new_path

    return f"{url.protocol}//{url.domain}/{path}"
