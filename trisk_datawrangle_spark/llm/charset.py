"""Charset sniffing + decoding for crawl HTTP captures — the step
between the WARC reader's raw body bytes (s11) and every text stage
downstream. Real crawls are NOT all UTF-8: legacy hosts serve
windows-1252 with no declaration at all, CMSes declare the charset
only in a ``<meta>`` tag, and some servers lie in the Content-Type
header while the payload carries a BOM. Decoding everything as UTF-8
silently mangles exactly the long-tail text a training corpus wants.

Precedence follows the WHATWG encoding sniffing order (the
html.spec.whatwg.org algorithm browsers implement — the de-facto
law of what the bytes MEAN, since authors test against browsers):

1. **BOM** — ``EF BB BF`` → utf-8, ``FE FF`` → utf-16be,
   ``FF FE`` → utf-16le. The BOM beats everything, including a
   contradicting Content-Type header.
2. **Content-Type header** ``charset=`` parameter (case-insensitive,
   optional quotes).
3. **<meta> prescan** of the first 1024 body bytes (ASCII-compatible
   view): ``<meta charset=...>`` or the ``http-equiv`` form.
4. **Content sniff fallback**: strict-UTF-8 if the bytes validate;
   else the CJK structural sniff (:func:`_cjk_content_sniff` — a
   headerless Shift_JIS/GBK page must not silently decode as cp1252
   mojibake; ambiguous CJK refuses rather than guesses); else
   windows-1252 (WHATWG's default for the no-information case,
   now applied only to content that does NOT look CJK; cp1252
   decodes every byte, so this last arm cannot fail).

Label normalization maps the common aliases (``latin-1``,
``iso-8859-1`` → windows-1252 per WHATWG; ``utf8`` → utf-8) and the
CJK legacy multibyte registry labels: ``shift_jis`` (incl.
windows-31j/sjis), ``euc-jp``, ``gbk`` (incl. gb2312 — WHATWG folds
it), ``big5`` (incl. big5-hkscs), ``euc-kr`` (incl. windows-949/
ks_c_5601) — each decoded by the stdlib codec matching the WHATWG
decoder index (see ``_PY_CODEC``), strictly — plus the registry's
single-byte members (iso-8859-2/4/5/7/8/15, windows-1250..1258,
windows-874/tis-620, koi8-r/u; WHATWG's folds iso-8859-9 →
windows-1254 and iso-8859-11 → windows-874 included), ~90 labels
total. A
DECLARED charset outside the supported set, or payload bytes that
do not decode under the declared charset, returns None — refused
loudly, the same contract as the WARC parser: mis-decoded text
poisons every downstream gate, so a record we cannot decode
faithfully is dropped, not guessed at.

Cost tier: per-row Python over bytes — Arrow-batched ``mapInPandas``
like the media codecs; detection is O(header + 1024 bytes), decode
O(body).
"""

from __future__ import annotations

import codecs
import re

#: WHATWG label → canonical name of the codec we decode with.
#: iso-8859-1/latin-1 intentionally map to windows-1252: WHATWG
#: folds them because real-world "latin-1" content uses the 0x80-0x9F
#: printables (curly quotes, €) that only cp1252 assigns.
_ALIASES = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "utf-16be": "utf-16be",
    "utf-16le": "utf-16le",
    "utf-16": "utf-16le",  # WHATWG: bare utf-16 is an le alias
    "windows-1252": "windows-1252",
    "cp1252": "windows-1252",
    "iso-8859-1": "windows-1252",
    "latin-1": "windows-1252",
    "latin1": "windows-1252",
    "us-ascii": "windows-1252",
    # -- CJK legacy multibyte (the WHATWG registry's label sets) --
    # A multilingual crawl that drops every declared Shift_JIS/GBK/
    # Big5/EUC page sheds most of the Japanese/Chinese/Korean long
    # tail; these labels cover the registry's spellings for the five
    # encodings, all decoded via stdlib codecs (see _PY_CODEC).
    "shift_jis": "shift_jis",
    "shift-jis": "shift_jis",
    "sjis": "shift_jis",
    "x-sjis": "shift_jis",
    "ms_kanji": "shift_jis",
    "csshiftjis": "shift_jis",
    "windows-31j": "shift_jis",
    "euc-jp": "euc-jp",
    "euc_jp": "euc-jp",
    "x-euc-jp": "euc-jp",
    "cseucpkdfmtjapanese": "euc-jp",
    "gbk": "gbk",
    "gb2312": "gbk",          # WHATWG folds gb2312 into gbk
    "gb_2312": "gbk",
    "gb_2312-80": "gbk",
    "chinese": "gbk",
    "csgb2312": "gbk",
    "csiso58gb231280": "gbk",
    "iso-ir-58": "gbk",
    "x-gbk": "gbk",
    "big5": "big5",
    "big5-hkscs": "big5",     # WHATWG's big5 index includes HKSCS
    "cn-big5": "big5",
    "csbig5": "big5",
    "x-x-big5": "big5",
    "euc-kr": "euc-kr",
    "euc_kr": "euc-kr",
    "korean": "euc-kr",
    "csksc56011987": "euc-kr",
    "ks_c_5601-1987": "euc-kr",
    "ks_c_5601-1989": "euc-kr",
    "ksc5601": "euc-kr",
    "ksc_5601": "euc-kr",
    "iso-ir-149": "euc-kr",
    "windows-949": "euc-kr",  # WHATWG folds UHC into euc-kr
    # -- single-byte registry members (all stdlib, strict) --
    # Central European
    "iso-8859-2": "iso-8859-2",
    "iso8859-2": "iso-8859-2",
    "latin2": "iso-8859-2",
    "windows-1250": "windows-1250",
    "cp1250": "windows-1250",
    # Cyrillic
    "iso-8859-5": "iso-8859-5",
    "iso8859-5": "iso-8859-5",
    "windows-1251": "windows-1251",
    "cp1251": "windows-1251",
    "koi8-r": "koi8-r",
    "koi8": "koi8-r",
    "koi8-u": "koi8-u",
    "koi8-ru": "koi8-u",
    # Greek
    "iso-8859-7": "iso-8859-7",
    "iso8859-7": "iso-8859-7",
    "greek": "iso-8859-7",
    "greek8": "iso-8859-7",
    "windows-1253": "windows-1253",
    "cp1253": "windows-1253",
    # Turkish
    "iso-8859-9": "windows-1254",  # WHATWG folds 8859-9 into 1254
    "iso8859-9": "windows-1254",
    "latin5": "windows-1254",
    "windows-1254": "windows-1254",
    "cp1254": "windows-1254",
    # Hebrew / Arabic
    "iso-8859-8": "iso-8859-8",
    "iso8859-8": "iso-8859-8",
    "hebrew": "iso-8859-8",
    "windows-1255": "windows-1255",
    "cp1255": "windows-1255",
    "windows-1256": "windows-1256",
    "cp1256": "windows-1256",
    # Baltic / Western supplement
    "iso-8859-4": "iso-8859-4",
    "iso8859-4": "iso-8859-4",
    "latin4": "iso-8859-4",
    "windows-1257": "windows-1257",
    "cp1257": "windows-1257",
    "iso-8859-15": "iso-8859-15",
    "iso8859-15": "iso-8859-15",
    "latin9": "iso-8859-15",
    # Thai / Vietnamese
    "windows-874": "windows-874",
    "tis-620": "windows-874",  # WHATWG folds TIS-620 into 874
    "iso-8859-11": "windows-874",
    "windows-1258": "windows-1258",
    "cp1258": "windows-1258",
}

#: Canonical label → the stdlib codec implementing the WHATWG
#: decoder for it. WHATWG's Shift_JIS index is windows-31j (the
#: NEC/IBM extension rows) → cp932; its euc-kr index is UHC/
#: windows-949 → cp949; its gbk decoder IS the gb18030 decoder per
#: spec → gb18030; its big5 index carries the HKSCS extensions →
#: big5hkscs. Labels absent here decode under their own name.
#: All CJK decodes stay STRICT — a declared-but-invalid body is
#: refused like any other lying declaration.
_PY_CODEC = {
    "shift_jis": "cp932",
    "euc-jp": "euc_jp",
    "gbk": "gb18030",
    "big5": "big5hkscs",
    "euc-kr": "cp949",
    # single-byte canonical names mapping onto stdlib spellings
    "windows-1250": "cp1250",
    "windows-1251": "cp1251",
    "windows-1253": "cp1253",
    "windows-1254": "cp1254",
    "windows-1255": "cp1255",
    "windows-1256": "cp1256",
    "windows-1257": "cp1257",
    "windows-1258": "cp1258",
    "windows-874": "cp874",
}

#: Python's windows-* single-byte codecs leave their 0x80-0x9F holes
#: undefined and raise on them in strict mode (cp1252: 0x81 0x8D
#: 0x8F 0x90 0x9D; cp1250: 0x81 0x83 0x88 0x90 0x98; cp1251: 0x98;
#: cp874: most of the block; ...). The WHATWG single-byte indexes —
#: the ones browsers implement and this module claims — fill every
#: such 0x80-0x9F hole with the like-numbered C1 control, so real
#: legacy pages carrying stray C1 bytes still decode. This error
#: handler supplies exactly that mapping and NOTHING more: an
#: undefined byte outside 0x80-0x9F (e.g. cp1255's 0xFB, cp1257's
#: 0xA1 — positions the WHATWG indexes also leave undefined) still
#: refuses, per spec, and utf-8/utf-16/CJK stay fully strict.
def _whatwg_c1_errors(exc):
    if not isinstance(exc, UnicodeDecodeError):  # pragma: no cover
        raise exc
    bad = exc.object[exc.start:exc.end]
    if all(0x80 <= b <= 0x9F for b in bad):
        return "".join(chr(b) for b in bad), exc.end
    raise exc


codecs.register_error("whatwgc1", _whatwg_c1_errors)


def _errors_for(label: str) -> str:
    # the windows-* family (incl. windows-874) gets the C1 fill; the
    # iso-8859/koi8 codecs are already total in Python, and strict
    # is a no-op for them
    return "whatwgc1" if label.startswith("windows-") else "strict"


_CHARSET_PARAM_RX = re.compile(
    r"charset[ \t]*=[ \t]*[\"']?([A-Za-z0-9_.:-]+)[\"']?", re.I
)
_META_RX = re.compile(
    rb"<meta[^>]+charset[ \t]*=[ \t]*[\"']?([A-Za-z0-9_.:-]+)", re.I
)


def _label(raw: str) -> str | None:
    return _ALIASES.get(raw.strip().lower())


# ------------------------------------------------- undeclared CJK
#: Sample window for the content sniff — structure shows up in the
#: first few KB; the full body still decodes strictly afterwards.
_CJK_SNIFF_BYTES = 4096

#: Sentinel: the bytes look like legacy CJK but more than one codec
#: explains them equally well — refused (None from sniff_charset)
#: rather than guessed at, the module's lying-declaration contract
#: applied to the no-declaration case.
AMBIGUOUS_CJK = "ambiguous-cjk"

_CJK_CANDIDATES = ("shift_jis", "euc-jp", "euc-kr", "gbk", "big5")


def _strict_sample_decode(
    sample: bytes, codec: str, truncated: bool
) -> str | None:
    """Strict decode of a sniff sample, tolerating ONE multibyte
    char split by the sample cut (only when the sample really is a
    truncation of a longer body — an error at the tail of a complete
    body is a genuine invalidity)."""
    try:
        return sample.decode(codec)
    except UnicodeDecodeError as e:
        if truncated and e.start > 0 and e.start >= len(sample) - 4:
            try:
                return sample[: e.start].decode(codec)
            except UnicodeDecodeError:
                return None
        return None


def _script_evidence(text: str) -> tuple[int, int, int, int, int]:
    """(kana, hangul, han, punct, bad) code-point counts — the
    block arithmetic behind the sniff. Halfwidth katakana (FF61-9F)
    is deliberately NEUTRAL: EUC-JP bytes mis-decoded as Shift_JIS
    come out as all-halfwidth-katakana, so counting it as kana would
    score the mis-decode. ``bad`` = C1 controls + private-use — the
    classic mis-decode tell (GBK's 2-byte space maps unassigned
    positions into the PUA)."""
    kana = hangul = han = punct = bad = 0
    for ch in text:
        o = ord(ch)
        if o < 0x80:
            continue
        if 0x3040 <= o <= 0x30FF:
            kana += 1
        elif 0xAC00 <= o <= 0xD7A3 or 0x1100 <= o <= 0x11FF:
            hangul += 1
        elif 0x4E00 <= o <= 0x9FFF or 0x3400 <= o <= 0x4DBF:
            han += 1
        elif 0x3000 <= o <= 0x303F or 0xFF01 <= o <= 0xFF5E:
            punct += 1
        elif 0x80 <= o <= 0x9F or 0xE000 <= o <= 0xF8FF:
            bad += 1
    return kana, hangul, han, punct, bad


#: The highest-frequency hanzi (public frequency-list knowledge,
#: simplified head + common traditional variants) — the tiny prior
#: that arbitrates the gbk-vs-big5 tie: a CORRECT decode of real
#: Chinese text hits this set densely; a mis-decode of the same
#: bytes under the other codec yields near-uniform-random han that
#: virtually never does.
_COMMON_HAN = frozenset(
    "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年"
    "得就那要下以生会自着去之过家学对可她里后小么心多天而能好都然"
    "没日于起还发成事只作当想看文无开手十用主行方又如前所本见经头"
    "面公同三已老从动两长知民样现分将外但身些与高意进把法此实回二"
    "理美点月明其种声全工己话儿者向情部正名定女问力机给等几"
    # traditional variants of the head
    "這來說們為時得還發見經頭長現樣點幾話兒種聲處開國學會對與機無"
    "個裡後媽從動兩員務係讓關門電間問題體"
)

#: The highest-frequency hangul syllables (same public-frequency
#: idea as :data:`_COMMON_HAN`): real Korean hits this set densely;
#: hangul produced by MIS-decoding foreign bytes under cp949 is
#:near-uniform over 11 172 syllables and near-never does (measured:
#: kanji-only Shift_JIS bytes decode under cp949 as pure rare-
#: syllable hangul — structurally perfect, frequency-impossible).
_COMMON_HANGUL = frozenset(
    "이다는을가에하의고지를서기한은로사아해것수있되니시그인부대만"
    "나도않자주우스무임거라면까정제성간요들와과내어년중보진문일국"
    "생학교전소리신장때말람집또히입았었겠습동상공간외오용같관워크"
    "되며련식회경위험김차산금토평화미녀남녀버지테레비스템선개발왔"
)


def _cjk_content_sniff(body: bytes) -> str | None:
    """Structural-validity + script-evidence scorer for UNDECLARED
    non-UTF-8 content — the arm that used to silently decode a
    headerless Shift_JIS/GBK page as cp1252 mojibake (r10 verdict
    Missing #2). Returns a canonical CJK label, AMBIGUOUS_CJK, or
    None (not CJK-looking — the western-legacy cp1252 default is
    then actually justified).

    The ladder, and why it is shaped this way (each rule measured
    against real cross-decodes of ja/ko/zh text — see
    tests/test_robots_charset.py):

    1. Every candidate must decode the sample STRICTLY (one split
       char tolerated at the cut) and show ZERO C1/PUA output (the
       classic mis-decode tell: big5-as-gbk lights up the PUA).
    2. Codec-DISTINCTIVE scripts qualify with DOMINANCE, not mere
       presence: the Japanese codecs need kana≥4 AND 2·kana≥han
       (real Japanese is kana-heavy); euc-kr needs hangul≥4 AND
       hangul≥4·han (modern Korean is hanja-free — measured:
       GBK-Chinese bytes decode under cp949 to a hangul≈han MIX,
       which this veto rejects, while real Korean decodes pure)
       AND ≥4 :data:`_COMMON_HANGUL` hits at ≥1/8 density
       (measured: kanji-only Shift_JIS bytes decode under cp949 as
       structurally-perfect but frequency-impossible rare hangul).
    3. Distinctive qualifiers outrank han-only ones: ja/ko bytes
       mis-decoded under a han codec come out as plausible-count
       han (measured: SJIS-Japanese validates under gb18030 with
       han=32), so han volume cannot arbitrate; but han codecs
       cannot produce DOMINANT kana/hangul from ja/ko bytes without
       tripping validity, the bad-block veto, or the mix veto.
       Among distinctive qualifiers, the top score (4·native + han
       + punct) must DOUBLE the runner-up, else AMBIGUOUS_CJK.
    4. Han-only content (Chinese): gbk/big5 qualify with ≥8 han and
       zero kana/hangul in their own decode. Both validating is
       byte-structurally common, so the :data:`_COMMON_HAN`
       frequency prior arbitrates — the correct decode hits the
       top-frequency set densely (≥4 and ≥2× the other + 1), the
       mis-decode near-never; a UNIQUE qualifier passes the same
       ≥4-hit bar (a spaceless non-CJK single-byte page can
       structurally validate under exactly one han codec). No clear
       winner → AMBIGUOUS_CJK: a wrong pick silently mangles,
       refusal is loud.

    Pure per-row Python over ≤4 KB, same Arrow-batched cost tier as
    the decode itself; deterministic by construction."""
    sample = body[:_CJK_SNIFF_BYTES]
    truncated = len(body) > len(sample)
    distinctive: list[tuple[int, str]] = []
    han_only: list[tuple[int, str]] = []
    for label in _CJK_CANDIDATES:
        text = _strict_sample_decode(
            sample, _PY_CODEC[label], truncated
        )
        if text is None:
            continue
        kana, hangul, han, punct, bad = _script_evidence(text)
        if bad:
            continue
        if label in ("shift_jis", "euc-jp"):
            if kana < 4 or 2 * kana < han:
                continue
            native = kana
        elif label == "euc-kr":
            if hangul < 4 or hangul < 4 * han:
                continue
            hits = sum(1 for ch in text if ch in _COMMON_HANGUL)
            if hits < 4 or hits * 8 < hangul:
                continue
            native = hangul
        else:
            if kana or hangul or han < 8:
                continue
            hits = sum(1 for ch in text if ch in _COMMON_HAN)
            han_only.append((hits, label))
            continue
        distinctive.append((4 * native + han + punct, label))
    if distinctive:
        distinctive.sort(reverse=True)
        if len(distinctive) == 1:
            return distinctive[0][1]
        if distinctive[0][0] >= 2 * distinctive[1][0]:
            return distinctive[0][1]
        return AMBIGUOUS_CJK
    if len(han_only) == 1:
        # the frequency prior gates the UNIQUE qualifier too: a
        # spaceless non-CJK single-byte page could structurally
        # validate under exactly one han codec, and its junk han
        # near-never hits the top-frequency set (real Chinese does,
        # densely)
        if han_only[0][0] >= 4:
            return han_only[0][1]
        return AMBIGUOUS_CJK
    if han_only:
        han_only.sort(reverse=True)
        top, second = han_only[0], han_only[1]
        if top[0] >= 4 and top[0] >= 2 * second[0] + 1:
            return top[1]
        return AMBIGUOUS_CJK
    return None


def sniff_charset(content_type: str | None, body: bytes) -> str | None:
    """The detection step alone: the canonical charset label for
    ``body`` under the WHATWG precedence (BOM > header > meta
    prescan > UTF-8-validates > CJK content sniff > windows-1252),
    or None when a DECLARED label is outside the supported set OR
    undeclared bytes look CJK but ambiguously so (the
    :func:`_cjk_content_sniff` ladder — refusing beats the silent
    cp1252 mangle that poisons every downstream text gate)."""
    if body[:3] == b"\xef\xbb\xbf":
        return "utf-8"
    if body[:2] == b"\xfe\xff":
        return "utf-16be"
    if body[:2] == b"\xff\xfe":
        return "utf-16le"
    if content_type:
        m = _CHARSET_PARAM_RX.search(content_type)
        if m:
            return _label(m.group(1))  # declared but unknown: None
    m = _META_RX.search(body[:1024])
    if m:
        label = _label(m.group(1).decode("ascii", "replace"))
        # WHATWG prescan: a meta declaring ANY utf-16 flavor (be/le/
        # bare — the bare spelling is the common one) is self-
        # contradictory (the prescan only works on ASCII-compatible
        # bytes, so the document cannot actually BE utf-16) and MUST
        # be treated as utf-8 — honoring it decodes ASCII pages into
        # CJK mojibake
        if label is not None and label.startswith("utf-16"):
            return "utf-8"
        return label
    try:
        body.decode("utf-8", "strict")
        return "utf-8"
    except UnicodeDecodeError:
        cjk = _cjk_content_sniff(body)
        if cjk == AMBIGUOUS_CJK:
            return None  # looks CJK, no defensible pick: refuse
        if cjk is not None:
            return cjk
        return "windows-1252"


def decode_body(content_type: str | None, body: bytes) -> tuple[str, str] | None:
    """Sniff + decode: ``(charset_label, text)`` with the BOM (when
    the sniff consumed one) stripped from the text, or None when the
    charset is undeclared-and-unsupported or the bytes do not decode
    strictly under the sniffed charset (a LYING declaration — utf-16
    with an odd byte count, declared utf-8 that isn't — is refused,
    not patched with replacement chars). windows-1252 alone is a
    TOTAL decode (the WHATWG mapping assigns every byte, incl. the
    five Python's strict cp1252 leaves undefined), so the refusal
    arm never fires for it — per spec, not leniency."""
    label = sniff_charset(content_type, body)
    if label is None:
        return None
    data = body
    if label == "utf-8" and data[:3] == codecs.BOM_UTF8:
        data = data[3:]
    elif label == "utf-16be" and data[:2] == codecs.BOM_UTF16_BE:
        data = data[2:]
    elif label == "utf-16le" and data[:2] == codecs.BOM_UTF16_LE:
        data = data[2:]
    try:
        codec = _PY_CODEC.get(label, label)
        return label, data.decode(codec, _errors_for(label))
    except UnicodeDecodeError:
        return None


_CT_HEADER_RX = re.compile(
    rb"^content-type[ \t]*:([^\r\n]*)", re.I | re.M
)


def http_decode_text(record_content: bytes) -> tuple[str, str] | None:
    """The front-door composition: split an HTTP response record into
    headers + body (via the s11 dechunker, so chunked captures work),
    pull the Content-Type header, sniff, decode. Returns
    ``(charset_label, text)`` or None for non-HTTP content, refused
    transfer codings, or an undecodable body."""
    from trisk_datawrangle_spark.llm.extract import http_body

    body = http_body(record_content)
    if body is None:
        return None
    sep = record_content.find(b"\r\n\r\n")
    head = record_content[:sep]
    m = _CT_HEADER_RX.search(head)
    ctype = m.group(1).decode("ascii", "replace") if m else None
    return decode_body(ctype, body)
