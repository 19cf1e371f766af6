"""Kernel unit tests: bit-exact thresholds of the reference semantics.

Reference anchors:
- clean_unicode           text_utils.py:16-75
- normalize_whitespace    text_utils.py:142-147
- remove_page_headers...  text_utils.py:149-166
- chunk_text              text_utils.py:77-117
- extract_numbers/dates   text_utils.py:119-140
- _is_garbage_text        core_pdf_processor.py:584-648
"""

import random

import pytest  # noqa: F401 - parametrize in property tests

from service1_text_extraction_spark.kernels import textnorm as tn


# --- independent scalar re-statement of the documented clean_unicode ------
def _clean_unicode_oracle(text: str) -> str:
    for a, b in (
        ("���", "€"),
        ("â‚¬", "€"),
        ("€", "€"),
        ("£", "£"),
        ("¥", "¥"),
        ("$", "$"),
    ):
        text = text.replace(a, b)
    for a, b in (
        (" ", " "),
        ("‐", "-"), ("‑", "-"), ("‒", "-"),
        ("–", "-"), ("—", "-"), ("―", "-"),
        ("‘", "'"), ("’", "'"), ("‚", "'"),
        ("“", '"'), ("”", '"'), ("„", '"'),
        ("…", "..."), ("﻿", ""),
    ):
        text = text.replace(a, b)
    out = []
    for c in text:
        o = ord(c)
        if o < 32:
            out.append(c if c in "\n\r\t" else " ")
        elif o > 127:
            if c in "€£¥¢₹₽₩₪₫" or o < 256:
                out.append(c)
            else:
                out.append(" ")
        else:
            out.append(c)
    return "".join(out)


ADVERSARIAL = [
    "",
    "plain ascii text.",
    "smart “quotes” and ‘apostrophes’ — em-dash … ellipsis nbsp﻿",
    "euro ��� mojibake â‚¬ and real € plus £¥¢ ₹₽₩₪₫",
    "ctrl\x00\x01chars\x1fand\x7fdel kept",
    "漢字 and emoji 😀 go to space",
    "tabs\tand\nnewlines\rkept",
]


def test_clean_unicode_matches_oracle():
    rng = random.Random(42)
    pool = (
        [chr(i) for i in range(0, 1024)]
        + list("€₹₽₩₪₫…—“”‘’ ﻿�")
        + ["😀", "漢"]
    )
    cases = list(ADVERSARIAL)
    for _ in range(300):
        cases.append("".join(rng.choice(pool) for _ in range(rng.randrange(0, 80))))
    for t in cases:
        assert tn.clean_unicode(t) == _clean_unicode_oracle(t), repr(t)


def test_normalize_whitespace():
    assert tn.normalize_whitespace("  a\t\tb\n\nc  ") == "a b c"
    assert tn.normalize_whitespace(" x ") == "x"  # \s matches NBSP


def test_remove_page_headers_footers():
    text = "Page 12\nreal content line\n42\nok\n----\nab\nanother line"
    # 'ok' (len<3) and 'ab' (len<3)? 'ab' has len 2 -> dropped; 'ok' len 2 -> dropped
    assert tn.remove_page_headers_footers(text) == "real content line\nanother line"
    assert tn.remove_page_headers_footers("pAGE 3\nxyz") == "xyz"


def test_chunk_text_breaks_and_overlap():
    assert tn.chunk_text("short", 10, 2) == ["short"]
    text = ("word " * 50).strip()  # 249 chars, no preferred break except '. '
    chunks = tn.chunk_text(text, max_chars=100, overlap=10)
    assert len(chunks) > 1
    # consecutive chunks genuinely share the overlap region
    for prev, cur in zip(chunks, chunks[1:]):
        assert prev[-10:] == cur[:10]
    # stitched back together (dropping each overlap) == the input
    assert chunks[0] + "".join(c[10:] for c in chunks[1:]) == text
    # paragraph break is preferred
    t2 = "a" * 90 + "\n\n" + "b" * 90
    c2 = tn.chunk_text(t2, max_chars=100, overlap=0)
    assert c2[0].endswith("\n\n") and c2[1] == "b" * 90


def test_extract_numbers_and_dates():
    assert tn.extract_numbers("pay 1,234.56 or 7 units") == ["1,234.56", "7"]
    dates = tn.extract_dates("due 12 March 2021, also 2021-03-12 and 3/4/2021")
    assert "12 March 2021" in dates
    assert "2021-03-12" in dates
    assert "3/4/2021" in dates


# --- garbage gate: one test per heuristic at its threshold ---------------

def test_garbage_empty():
    assert tn.is_garbage_text("   \n ")


def test_garbage_control_ratio_boundary():
    # The reference's 30%-control check is shadowed by its 20%-non-printable
    # check (ctrl chars are a subset), so the reachable boundary is 20%:
    # exactly 20% ctrl -> not garbage (strict >), above -> garbage.
    ok = "abcdefgh" + "\x01\x01"  # 2/10 = 20%
    assert not tn.is_garbage_text(ok)
    bad = "abcdefg" + "\x01\x01\x01"  # 3/10 = 30%, trips >20% non-printable
    assert tn.is_garbage_text(bad)
    bad2 = "abcdef" + "\x01\x01\x01\x01"  # 4/10 > 30%, trips ctrl check too
    assert tn.is_garbage_text(bad2)


def test_garbage_control_sequences():
    # exactly 3 separated ctrl runs -> not garbage; 4 -> garbage
    ok = "normal words here okay \x01 more \x02 and \x03 tail words"
    assert not tn.is_garbage_text(ok)
    bad = "normal words here okay \x01 more \x02 and \x03 plus \x04 tail"
    assert tn.is_garbage_text(bad)


def test_garbage_special_ratio():
    # > 0.5 special (not alnum/space/keep-punct)
    bad = "ab" + "#$%^&*" * 2  # 2 alnum, 12 special -> 12/14 > .5
    assert tn.is_garbage_text(bad)
    ok = "abcdef ghij." + "#$"  # 2/14 < .5
    assert not tn.is_garbage_text(ok)


def test_garbage_distinct_chars():
    assert tn.is_garbage_text("aaaabbbbccccdddd")  # 4 distinct
    assert not tn.is_garbage_text("aaaabbbbccccddddeeee more words here")


def test_garbage_short_words():
    bad = "a b c d e f g h i j words"  # 10/11 short > .7
    assert tn.is_garbage_text(bad)
    ok = "aa bb cc dd ee ff gg hh ii jj x"  # 1/11 short
    assert not tn.is_garbage_text(ok)


def test_garbage_nonprintable_20pct():
    # chars >126 count as non-printable in the reference's check
    bad = "abcdefgh" + "éé"  # 2/10 = 20% -> not > -> ok
    assert not tn.is_garbage_text(bad)
    bad2 = "abcdefg" + "ééé"  # 3/10 > 20% -> garbage
    assert tn.is_garbage_text(bad2)


def test_garbage_dispatch_vs_scalar_property():
    rng = random.Random(7)
    pool = [chr(i) for i in range(0, 300)] + list("€😀漢 \t\n\r.,!?;:()[]{}\"'")
    cases = [
        "".join(rng.choice(pool) for _ in range(rng.randrange(1, 120)))
        for _ in range(500)
    ] + ADVERSARIAL
    for t in cases:
        assert tn.is_garbage(t) == tn.is_garbage_text(t), repr(t)
