"""HTML page extraction (S3): stored HTML -> structured JSON payloads.

The reference parses DOM with BeautifulSoup in the driver loop
(sessions dropdown ``crawl.py:73-83``, calendar ``:90-113``, roll
DataTable ``:151-158``, vote divs ``:191-198``, member lists
``:302-321,378-506``, bio service table ``:588-611``).  Here the same
extraction runs executor-side as an Arrow-batched pandas UDF
(``extract_pages`` -> mapInPandas): raw HTML payload in, the JSON
payload contract of ``pipelines/ingest.py`` out, so every downstream
parse stage (from_json + explode, all JVM-side) is shared between
pre-structured and raw-HTML sources.

The DOM layer is a ~100-line tree built on stdlib ``html.parser`` —
no third-party dependency ships to executors.  Page identity that
the reference carries as Python locals (chamber, day_id, member_id —
it knows them from the work-queue row it is crawling) rides in the
page URL's query string here, because the URL column is the only
context a distributed fetch row carries.

Extraction is per-page and stateless => embarrassingly parallel; at
100 TB of stored pages this scales with input splits and never
shuffles (the shuffle happens later, at the merge-upsert).
"""

from __future__ import annotations

import json
import re
from html.parser import HTMLParser
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame

from palegislature_spark.operators.kernels import map_batches
from palegislature_spark.pipelines.ingest import FETCH_SCHEMA

# --------------------------------------------------------------------------
# Minimal DOM on stdlib html.parser
# --------------------------------------------------------------------------

_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


class Node:
    """One element: tag, attrs, ordered children (Node | str)."""

    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict[str, str], parent: "Node | None"):
        self.tag = tag
        self.attrs = attrs
        self.children: list[Node | str] = []
        self.parent = parent

    # -- queries ----------------------------------------------------------
    def _matches(self, tag, class_, id_, string) -> bool:
        if tag and self.tag != tag:
            return False
        if class_ and class_ not in self.attrs.get("class", "").split():
            return False
        if id_ and self.attrs.get("id") != id_:
            return False
        if string is not None and self.text.strip() != string:
            return False
        return True

    def find_all(self, tag=None, class_=None, id_=None, string=None, recursive=True):
        out: list[Node] = []
        for child in self.children:
            if not isinstance(child, Node):
                continue
            if child._matches(tag, class_, id_, string):
                out.append(child)
            if recursive:
                out.extend(child.find_all(tag, class_, id_, string))
        return out

    def find(self, tag=None, class_=None, id_=None, string=None, recursive=True):
        found = self.find_all(tag, class_, id_, string, recursive)
        return found[0] if found else None

    @property
    def text(self) -> str:
        parts: list[str] = []
        for child in self.children:
            parts.append(child.text if isinstance(child, Node) else child)
        return "".join(parts)

    def __getitem__(self, key: str) -> str:
        return self.attrs[key]

    def get(self, key: str, default=None):
        return self.attrs.get(key, default)


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("[document]", {}, None)
        self._cur = self.root

    def handle_starttag(self, tag, attrs):
        node = Node(tag, {k: (v or "") for k, v in attrs}, self._cur)
        self._cur.children.append(node)
        if tag not in _VOID:
            self._cur = node

    def handle_endtag(self, tag):
        # close up to the nearest matching open tag (tolerates the
        # unbalanced markup real pages have)
        cur = self._cur
        while cur is not None and cur.tag != tag:
            cur = cur.parent
        if cur is not None and cur.parent is not None:
            self._cur = cur.parent

    def handle_data(self, data):
        if data:
            self._cur.children.append(data)


def parse_html(html: str) -> Node:
    builder = _TreeBuilder()
    builder.feed(html)
    return builder.root


def _url_query(url: str) -> dict[str, str]:
    return {k: v[0] for k, v in parse_qs(urlparse(url).query).items()}


# --------------------------------------------------------------------------
# Page-type extractors: (url, html) -> payload dict
# --------------------------------------------------------------------------

_PARTY_PATTERN = re.compile(r"\((.)\)")
_DISTRICT_PATTERN = re.compile(r"District (\d+)")


def extract_session_page(url: str, html: str) -> dict:
    """Session-days page -> sessions dropdown + sitting-day calendar
    (``crawl.py:73-113``). Chamber rides in the URL's Chamber=H|S."""
    dom = parse_html(html)
    q = _url_query(url)
    chamber = 1 if q.get("Chamber", "H") == "H" else 2

    sessions = []
    dropdown = dom.find("select", id_="SessID")
    for opt in dropdown.find_all("option") if dropdown else []:
        sessions.append(
            {
                "code": opt["value"],
                "name": opt.text.strip(),
                "selected": opt.get("selected") is not None,
            }
        )

    days = []
    for column in dom.find_all("div", class_="Column-OneHalf"):
        header = column.find("h3")
        if not header or "Scheduled" in header.text:
            continue
        for row in column.find_all("div", class_="CalendarDisplay-List-Row"):
            month_s = row.find("div", class_="CalendarDisplay-List-Month").text.strip()
            for link in row.find_all("a"):
                day_s = link.text
                if "\xa0" in day_s:
                    day_s = day_s.split("\xa0")[0]
                days.append({"month": month_s, "day": int(day_s)})
    return {"chamber": chamber, "sessions": sessions, "days": days}


def extract_day_page(url: str, html: str) -> dict:
    """Floor-votes page -> roll-call links (``crawl.py:151-166``).
    Roll identity lives in each link's query params; the owning
    day_id rides in the page URL (work-queue context)."""
    dom = parse_html(html)
    day_id = int(_url_query(url)["day_id"])
    rolls = []
    table = dom.find("table", class_="DataTable")
    body = table.find("tbody") if table else None
    for row in body.find_all("tr") if body else []:
        links = row.find_all("a")
        if not links or not links[0].get("id", "").startswith("RCLink"):
            continue
        rq = _url_query(links[0]["href"])
        rolls.append(
            {
                "rc_nbr": int(rq["rc_nbr"]),
                "sess_yr": int(rq["sess_yr"]),
                "sess_ind": int(rq["sess_ind"]),
                "rc_body": rq["rc_body"],
                "name": links[0].text.strip(),
            }
        )
    return {"day_id": day_id, "rolls": rolls}


def extract_roll_page(url: str, html: str) -> dict:
    """Roll-call page -> letter votes + timestamp strings
    (``crawl.py:191-218``). session_id/roll_id ride in the URL."""
    dom = parse_html(html)
    q = _url_query(url)

    votes = []
    container = dom.find("div", class_="RollCalls-ListContainer")
    for div in container.find_all("div", recursive=False) if container else []:
        klass = div.attrs.get("class", "").split()
        if klass and klass[0].startswith("Column"):
            continue  # formatting div
        # Reference shape (crawl.py:196-198): the vote letter is the
        # div's first element child, the member name the text after it.
        kids = div.children
        for idx, kid in enumerate(kids):
            if isinstance(kid, Node):
                name = "".join(
                    str(k) for k in kids[idx + 1 :] if isinstance(k, str)
                ).strip()
                if name:
                    votes.append({"vote": kid.text.strip(), "name": name})
                break

    date_s = time_s = None
    side = dom.find("div", class_="Column-OneFourth")
    if side:
        sections = side.find_all("div", recursive=False)
        if len(sections) >= 2:
            info = sections[1].find_all("div", recursive=False)
            if len(info) == 3:
                date_s, time_s = info[0].text.strip(), info[1].text.strip()
    return {
        "session_id": int(q["session_id"]),
        "roll_id": int(q["roll_id"]),
        "votes": votes,
        "date_s": date_s,
        "time_s": time_s,
    }


def extract_member_list_page(url: str, html: str) -> dict:
    """Historical member list (senate ViewAll / house A-Z) -> archive
    members (``crawl.py:302-321``). The wrapper div is class
    Column-Full (senate) or id portfolioPaginationWrapper (house);
    chamber rides in the URL (body=S / the archives host)."""
    dom = parse_html(html)
    q = _url_query(url)
    chamber = 2 if q.get("body") == "S" else 1
    content = dom.find("div", class_="Column-Full") or dom.find(
        "div", id_="portfolioPaginationWrapper"
    )
    members = []
    for link in content.find_all("a") if content else []:
        lq = _url_query(link["href"])
        if "ID" not in lq:
            continue
        members.append(
            {"archive_id": int(lq["ID"]), "full_name": link.text.strip()}
        )
    return {"chamber": chamber, "members": members}


def extract_current_roll_page(url: str, html: str) -> dict:
    """Current/per-year member list (``crawl.py:378-506``): SessYear
    dropdown (crawl bookkeeping + the selected year range) and one
    MemberInfoList-MemberWrapper per member with bio link, party
    letter and district.  Unknown party codes and missing party/
    district are NOT raised here (the reference exits) — they pass
    through for the validation stage to emit as violation rows."""
    dom = parse_html(html)
    q = _url_query(url)
    chamber = 2 if q.get("body") == "S" else 1

    options, year_range_s = [], None
    dropdown = dom.find("select", id_="SessYear")
    for opt in dropdown.find_all("option") if dropdown else []:
        options.append(opt["value"])
        if opt.get("selected") is not None:
            year_range_s = opt.text.replace("\xa0", " ").strip()

    members = []
    for info in dom.find_all("div", class_="MemberInfoList-MemberWrapper"):
        bio = info.find("div", class_="MemberInfoList-MemberBio")
        link = bio.find("a")
        lq = _url_query(link["href"])
        party = district = None
        for child in bio.children:
            if isinstance(child, Node):
                continue
            text = child.strip()
            if not text:
                continue
            m1 = _PARTY_PATTERN.match(text)
            m2 = _DISTRICT_PATTERN.match(text)
            if m1:
                party = m1.group(1)
            elif m2:
                district = int(m2.group(1))
        members.append(
            {
                "current_id": int(lq["id"]),
                "full_name": link.text.strip(),
                "bio_href": link["href"],
                "party": party,
                "district": district,
            }
        )
    return {
        "chamber": chamber,
        "session_year_options": options,
        "year_range_s": year_range_s,
        "members": members,
    }


def extract_bio_page(url: str, html: str) -> dict:
    """Member bio page -> service-history table + life line
    (``crawl.py:553-612``). House bios nest the table in div.bio-table
    with an h4 life line; senate uses table.DataTable-Grid + h3.
    member_id/chamber ride in the URL."""
    dom = parse_html(html)
    q = _url_query(url)
    chamber = int(q["chamber"])

    err = dom.find("div", class_="Message-Error")
    if err:
        return {
            "member_id": int(q["member_id"]),
            "chamber": chamber,
            "error": err.text.strip(),
            "name_s": None,
            "life_s": None,
            "rows": [],
        }

    if chamber == 1:
        div = dom.find("div", class_="bio-table")
        table = div.find("table") if div else None
        life_e = dom.find("h4")
    else:
        table = dom.find("table", class_="DataTable-Grid")
        life_e = dom.find("h3")

    h1 = dom.find("h1")
    rows = []
    for row in table.find_all("tr") if table else []:
        if row.find("th"):
            continue
        cells = [td.text.strip() for td in row.find_all("td")]
        if len(cells) != 5:
            continue
        # Sessions / Office / Position / District / Party
        rows.append(
            {
                "sessions_s": cells[0],
                "office": cells[1] or None,
                "district_s": cells[3],
                "party": cells[4] or None,
            }
        )
    return {
        "member_id": int(q["member_id"]),
        "chamber": chamber,
        "error": None,
        "name_s": h1.text.strip() if h1 else None,
        "life_s": life_e.text.strip() if life_e else "",
        "rows": rows,
    }


_EXTRACTORS = {
    "session": extract_session_page,
    "day": extract_day_page,
    "roll": extract_roll_page,
    "member_list": extract_member_list_page,
    "current_roll": extract_current_roll_page,
    "bio": extract_bio_page,
}


# --------------------------------------------------------------------------
# The Spark seam: HTML pages DataFrame -> JSON payload DataFrame
# --------------------------------------------------------------------------


def extract_pages(pages: DataFrame, page_type: str) -> DataFrame:
    """Raw-HTML (url, payload, fetched_at) -> the same schema with the
    payload replaced by the page type's JSON contract, ready for the
    ``pipelines/ingest.py`` from_json parse stages.

    Runs as an Arrow kernel (``operators/kernels.py``): Arrow-batched,
    executor-side, one Python worker per input split — the legitimate
    Python seam (DOM parsing has no Column-expression form).
    """
    if page_type not in _EXTRACTORS:
        raise ValueError(f"unknown page_type {page_type!r}; one of {sorted(_EXTRACTORS)}")
    extractor = _EXTRACTORS[page_type]

    def batch(pdf):
        return {
            "url": pdf["url"],
            "payload": [
                json.dumps(extractor(u, h))
                for u, h in zip(pdf["url"], pdf["payload"])
            ],
            "fetched_at": pdf["fetched_at"],
        }

    return map_batches(pages, FETCH_SCHEMA.fieldNames(), FETCH_SCHEMA, batch)
