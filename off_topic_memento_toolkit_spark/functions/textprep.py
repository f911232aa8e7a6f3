"""HTML→text extraction and the shared tokenize/stem/stopword pipeline.

``extract_text`` reproduces what the reference actually does with justext
(otmt/collectionmodel.py:456-463): it writes EVERY paragraph's text with a
trailing newline — paragraph segmentation + whitespace normalization used as
an HTML→text extractor, not actual boilerplate classification.  The
implementation transcribes the published jusText 2.x pipeline semantics
(decode → Cleaner → ParagraphMaker) onto a single streaming HTMLParser pass:

- decode: declared <meta charset> first, then strict utf-8, then utf-8 with
  errors="replace" (jusText decode_html order);
- comments and the <head>/<script>/<style>/<embed>/<object>/<applet>
  subtrees are dropped (Cleaner scripts/style/comments/embedded +
  kill_tags=("head",)); an unclosed <head> ends at the first body-content
  tag or non-whitespace text (libxml2 recovery).  <title> is killed wherever
  it appears — justext kills it only via the head subtree, but libxml2's
  implicit head makes that equivalent for every non-pathological document
  (tests/justext_oracle.py documents the same deviation);
- a new paragraph starts at every PARAGRAPH_TAGS start AND end and at the
  second of consecutive <br>s; the br flag is reset only by character data
  and by non-paragraph tags — never by paragraph-tag starts or end tags
  (the exact ParagraphMaker state machine);
- a lone <br> appends a " " text node; whitespace-only data nodes are
  skipped; whitespace runs containing CR/LF collapse to "\\n", other runs
  (incl. NBSP) to " ";
- a paragraph is EMITTED whenever it has text nodes, even when its
  normalized text is empty (a paragraph holding only a <br> space prints a
  bare newline) — byte-for-byte the reference's
  ``"{}\\n".format(paragraph.text)`` loop;
- an empty/whitespace-only document raises ``EmptyDocumentError``, mirroring
  the lxml ``ParserError('Document is empty')`` path the reference converts
  into ``CollectionModelBoilerPlateRemovalFailureException``
  (otmt/collectionmodel.py:465-466).

Byte-parity is pinned against an independent tree-based transcription of the
same published pipeline in tests/justext_oracle.py (corpus + generated
messy-HTML parity tests).

``full_tokenize`` mirrors otmt/timemap_measures.py:45-62: Treebank tokenize →
Porter stem → drop stemmed tokens that appear in the (unstemmed) stopword
list + punctuation.
"""

import re
from collections import Counter
from html.parser import HTMLParser

from .porter import porter_stem
from .simhash64 import simhash_raw_bytes, simhash_tokens, to_signed64
from .stopwords import STOPSET
from .treebank import word_tokenize

_WS_RUN = re.compile(r"\s+", re.UNICODE)

_CHARSET_META = re.compile(rb"""<meta[^>]+charset=["']?([^'"/>\s]+)""",
                           re.IGNORECASE)


def _normalize_whitespace(text: str) -> str:
    """justext rule: runs containing CR/LF become one newline, others one space."""
    return _WS_RUN.sub(
        lambda m: "\n" if ("\n" in m.group() or "\r" in m.group()) else " ",
        text,
    )


def decode_html(html: bytes, default_encoding="utf8", errors="replace") -> str:
    """jusText decode order: meta-declared charset, strict utf-8, default."""
    match = _CHARSET_META.search(html)
    if match:
        try:
            return html.decode(match.group(1).decode("ascii"), errors)
        except (LookupError, UnicodeDecodeError):
            pass
    try:
        return html.decode("utf8")
    except UnicodeDecodeError:
        return html.decode(default_encoding, errors)


class EmptyDocumentError(ValueError):
    """Raised for empty/unparseable HTML; callers turn it into an error row."""


# justext ParagraphMaker block-level tags (jusText core PARAGRAPH_TAGS)
_PARAGRAPH_TAGS = frozenset((
    "body", "blockquote", "caption", "center", "col", "colgroup", "dd",
    "div", "dl", "dt", "fieldset", "form", "legend", "optgroup", "option",
    "p", "pre", "table", "td", "textarea", "tfoot", "th", "thead", "tr",
    "ul", "ol", "li", "h1", "h2", "h3", "h4", "h5", "h6",
))

# Cleaner-equivalent subtree kills + the documented title deviation
_KILL_TAGS = frozenset(("head", "script", "style", "title",
                        "embed", "object", "applet", "param"))

# void elements never push kill depth (no matching end tag will arrive)
_VOID_TAGS = frozenset((
    "area", "base", "basefont", "bgsound", "br", "col", "embed", "frame",
    "hr", "img", "input", "keygen", "link", "meta", "param", "source",
    "track", "wbr",
))

# elements that belong to the (implicit) head; anything else ends an
# unclosed <head> (libxml2 recovery)
_HEAD_ONLY_TAGS = frozenset((
    "title", "meta", "link", "base", "basefont", "bgsound", "style",
    "script", "noframes", "head",
))

# libxml2's HTML4-era "start tag closes an open <p>" behavior
# (htmlStartClose table); HTML5-only names (article/section/...) do NOT
# close p in libxml2 — mirrored in tests/justext_oracle.py
_P_CLOSERS = frozenset((
    "address", "blockquote", "center", "dir", "div", "dl", "fieldset",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "hr", "menu", "ol", "p",
    "pre", "table", "ul", "li", "dd", "dt",
))

_ROW_GROUP = frozenset(("tbody", "tfoot", "thead"))

# _CLOSED_BY[open_tag] = start tags that implicitly close it (libxml2
# recovery); needed so paragraph boundaries fire at the positions the
# reference's lxml tree walk fires them, and so STRAY end tags — which
# libxml2 drops — do not fabricate boundaries
_CLOSED_BY = {
    "p": _P_CLOSERS,
    "li": frozenset(("li",)),
    "dd": frozenset(("dd", "dt")),
    "dt": frozenset(("dd", "dt")),
    "tr": frozenset(("tr",)) | _ROW_GROUP,
    "td": frozenset(("td", "th", "tr")) | _ROW_GROUP,
    "th": frozenset(("td", "th", "tr")) | _ROW_GROUP,
    "option": frozenset(("option", "optgroup")),
    "optgroup": frozenset(("optgroup",)),
    "thead": frozenset(("tbody", "tfoot")),
    "tbody": frozenset(("tbody", "tfoot")),
    "tfoot": frozenset(("tbody",)),
    "colgroup": frozenset(("thead", "tbody", "tfoot", "tr")),
}


class _ParagraphParser(HTMLParser):
    """One streaming pass = tree recovery + Cleaner + ParagraphMaker.

    A single open-element stack drives libxml2-style recovery (autoclose,
    stray-end-tag drop, implicit head exit); <head> and the Cleaner-killed
    tags are pushed as KILL ROOTS, and while any kill root is open only the
    OUTPUT side effects (paragraph flushes, br state, text nodes) are
    suppressed — the stack machinery keeps running, so an end tag that pops
    through an unclosed killed element (e.g. ``</em>`` closing over a
    mangled ``<object>``) un-kills exactly like removing that subtree from
    the DOM would."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.paragraphs = []   # list of normalized paragraph texts ("" ok)
        self._nodes = []       # current paragraph's text nodes
        self._stack = []       # (tag, is_kill_root)
        self._open = {}        # open-tag counts (O(1) membership for ends)
        self._kill_count = 0   # open kill roots
        self._head_seen = False
        self._br = False

    def _flush(self):
        # justext emits any paragraph with text nodes, even if its
        # normalized text is empty (reference writes a bare "\n" for it)
        if self._nodes:
            self.paragraphs.append(
                _normalize_whitespace("".join(self._nodes).strip()))
        self._nodes = []

    def _push(self, tag):
        kills = tag in _KILL_TAGS  # incl. "head": the whole subtree dies
        self._stack.append((tag, kills))
        self._open[tag] = self._open.get(tag, 0) + 1
        if kills:
            self._kill_count += 1

    def _pop(self):
        tag, kills = self._stack.pop()
        self._open[tag] -= 1
        if kills:
            self._kill_count -= 1
        elif tag in _PARAGRAPH_TAGS and self._kill_count == 0:
            self._flush()  # the (implied or real) end tag's boundary
        return tag

    def _autoclose(self, tag):
        while self._stack:
            closers = _CLOSED_BY.get(self._stack[-1][0])
            if closers is not None and tag in closers:
                self._pop()
                continue
            break

    def _head_exit(self, tag):
        """libxml2 recovery: body-content markup ends an unclosed <head>."""
        if tag in _HEAD_ONLY_TAGS:
            return
        if self._open.get("head", 0):
            while self._stack:
                if self._pop() == "head":
                    break

    def handle_starttag(self, tag, attrs):
        if tag == "head" and (self._head_seen or self._open.get("head", 0)):
            return  # head is a document singleton; later <head> tokens are
                    # ignored (HTML5 in-body rule / libxml2 head merge)
        self._head_exit(tag)
        self._autoclose(tag)
        if tag == "head":
            self._head_seen = True
        if tag not in _VOID_TAGS:
            self._push(tag)
        if self._kill_count or (tag in _VOID_TAGS and tag in _KILL_TAGS):
            return
        if tag in _PARAGRAPH_TAGS or (tag == "br" and self._br):
            # paragraph boundary; the br flag is NOT reset here (exact
            # ParagraphMaker semantics)
            self._flush()
        else:
            self._br = tag == "br"
            if self._br:
                self._nodes.append(" ")

    def handle_startendtag(self, tag, attrs):
        # HTML parsers ignore the self-closing slash on non-void elements
        self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if tag in _VOID_TAGS:
            return
        # libxml2 drops end tags with no matching open element; a matched
        # one closes everything above it (implied ends → boundaries)
        if self._open.get(tag, 0):
            while self._stack:
                if self._pop() == tag:
                    break

    def handle_data(self, data):
        if data.strip() == "":
            return
        if self._stack and self._stack[-1][0] == "head":
            self._pop()  # libxml2 moves non-whitespace head text into body
        if self._kill_count:
            return
        self._nodes.append(data)
        self._br = False


def extract_text(html) -> str:
    """Extract paragraph text from HTML bytes/str; every paragraph suffixed
    with a newline (reference write format, otmt/collectionmodel.py:462-463)."""
    if html is None:
        raise EmptyDocumentError("Document is empty")
    if isinstance(html, (bytes, bytearray)):
        html = decode_html(bytes(html))
    if html.strip() == "":
        raise EmptyDocumentError("Document is empty")
    parser = _ParagraphParser()
    parser.feed(html)
    parser.close()
    parser._flush()
    return "".join(p + "\n" for p in parser.paragraphs)


def full_tokenize(text, stemming: bool = True) -> list:
    """otmt/timemap_measures.py:45-62 — tokenize, stem, drop stopwords/punct.

    Stopword filtering runs on *stemmed* tokens against the unstemmed list,
    so e.g. 'having'→'have' survives while 'is' is dropped.
    """
    if isinstance(text, (bytes, bytearray)):
        text = bytes(text).decode("utf8")
    tokens = word_tokenize(text)
    if stemming:
        tokens = [porter_stem(token) for token in tokens]
    return [token for token in tokens if token not in STOPSET]


def top20_terms(tokens) -> list:
    """Top-20 TF terms with the reference's exact tie-break: descending sort
    of (count, token) tuples (otmt/timemap_measures.py:474-516)."""
    ranked = sorted(((c, t) for t, c in Counter(tokens).items()),
                    reverse=True)
    return [t for _, t in ranked[:20]]


_TOKEN_OUTPUTS = frozenset({"tokens", "tf_simhash", "top20"})
# enrichment outputs read from the text, given or extracted
TEXT_OUTPUTS = _TOKEN_OUTPUTS | {"text", "tokens_cos"}


def enrich_document(html, text, outputs) -> dict:
    """One document's enrichment ``outputs`` (a set of names), under the
    per-output contracts of :mod:`.udfs`; the dict may hold more keys."""
    out = {"raw_simhash": None if html is None or "raw_simhash" not in outputs
           else to_signed64(simhash_raw_bytes(html))}
    if not outputs & TEXT_OUTPUTS:
        return out
    if text is None and html is not None:
        try:
            text = extract_text(html)
        except EmptyDocumentError:
            pass
    tokens = (None if text is None or not outputs & _TOKEN_OUTPUTS
              else full_tokenize(text))
    has_tokens = tokens is not None
    out.update(
        text=text,
        tokens=tokens,
        tf_simhash=to_signed64(simhash_tokens(tokens))
        if has_tokens and "tf_simhash" in outputs else None,
        top20=top20_terms(tokens)
        if has_tokens and "top20" in outputs else None,
        tokens_cos=full_tokenize(text.lower())
        if text is not None and "tokens_cos" in outputs else None,
    )
    return out
