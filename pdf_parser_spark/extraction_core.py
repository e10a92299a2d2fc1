"""Pure-Python extraction core — the byte-identity-critical scalar layer.

This module has ZERO Spark dependencies. It holds three kinds of code:

- The extraction path the UDF runs (operators/extract.py, ocr_fallback.py):
  strategy dispatch (B1-B4), the statement-block parser (E1, B5/B6,
  G2/G3/G6), date keys (G4 `parse_date_key`), source-account and
  closing-date extraction (G8/G9) and `txn_records`.
- The chart of accounts and the D4 mapping (`CHART`, `ALLOWED_ACCOUNTS`,
  `fallback_account`, `force_map_to_allowed`), which operators/classify.py
  applies at plan-build time.
- Python references for rules the engine runs natively. Each stays because
  a test compares it with its native twin:
  `clean_vendor_name`/`vendor_key` (G1) ↔ classify.vendor_key_sql;
  `compute_display_amount` (G10) ↔ normalize.with_display_amount;
  `is_valid_amount` (B10), `looks_like_summary_interest_row` (B9),
  `clean_contra` (G12), `to_number`/`parse_amount_fragment` (G13) and
  `force_map_to_allowed` (D4) ↔ functions/scalar.py;
  `journal_entries` with `txn_uid` (H1/G14) ↔ journal.journal_entries.

Rules that run only natively (G11 account type, G15 keywords, H2 typed
legs, the B7/B8 windows) have no Python copy here; their goldens run
against the native expression.

Each function reproduces, exactly, the observable semantics of the reference
service (acstumler/pdf_parser, snapshot at /root/reference — cited as
file:line in docstrings). The implementations are written from scratch
against that behavioral spec; where the reference leaves behavior
order-dependent (greedy pairing) the canonical re-spec is documented in
FIXTURES.md and in pdf_parser_spark.operators.pairing.

Naming follows SURVEY.md §2.8's G1..G16 / §2.2 B1..B12 inventory.
"""

from __future__ import annotations

import re
from datetime import date, datetime

# ---------------------------------------------------------------------------
# G1 — vendor-name cleaning  (ref: utils/clean_vendor_name.py:3-18)
# ---------------------------------------------------------------------------

_EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
_URL_RE = re.compile(r"https?://\S+")
_NON_ALPHA_RE = re.compile(r"[^A-Za-z\s]")
_MULTI_WS_RE = re.compile(r"\s{2,}")


def clean_vendor_name(raw_memo: str | None) -> str:
    """Strip emails/urls, keep alpha words len>2, first 5 words, title-case.

    Byte-identical to reference utils/clean_vendor_name.py:3-18 (verified by
    tests/test_extraction_core.py against the importable reference module).
    """
    if not raw_memo:
        return "Unknown Vendor"
    memo = _EMAIL_RE.sub("", raw_memo)
    memo = _URL_RE.sub("", memo)
    memo = _NON_ALPHA_RE.sub(" ", memo)
    memo = _MULTI_WS_RE.sub(" ", memo).strip()
    words = memo.split()
    cleaned = [w for w in words if len(w) > 2 and w.isalpha()]
    if not cleaned:
        return "Unknown Vendor"
    return " ".join(cleaned[:5]).title()


def vendor_key(memo: str | None) -> str:
    """Classification key = lowercased cleaned vendor name (ref: main.py:281)."""
    return clean_vendor_name(memo).lower()


# ---------------------------------------------------------------------------
# G2/G3/G4 — amount & date primitives
# (ref: strategies/amex_multiline.py:74-94; main.py:90-99)
# ---------------------------------------------------------------------------

# line-level txn regexes (ref: strategies/amex_multiline.py:74-75)
DATE_RE = re.compile(r"(\d{2}/\d{2}/\d{2,4})")
AMOUNT_RE = re.compile(r"(-?\$?\(?\d{1,4}(?:,\d{3})*(?:\.\d{2})\)?)")


def clean_amount(raw_amount: str) -> float | None:
    """`(`→`-`, drop `)$,`, strip, round(float, 2); unparseable → None.

    Ref: strategies/amex_multiline.py:83-94.
    """
    cleaned = (
        raw_amount.replace("(", "-")
        .replace(")", "")
        .replace("$", "")
        .replace(",", "")
        .strip()
    )
    try:
        return round(float(cleaned), 2)
    except ValueError:
        return None


def _fast_datekey(s: str) -> str | None:
    """Fast path for the two common exact shapes; None → use strptime.

    Only fully-unambiguous ASCII cases (2/2/4-digit m/d/Y or 4/2/2 Y-m-d,
    year >= 1000) are handled here so every quirk of strptime (2-digit
    years parsed literally by %Y, unicode digits, whitespace) keeps its
    exact behavior via the fallback. strptime costs ~25us/call and runs
    once per extracted line — this path is ~10x cheaper.
    """
    if not s.isascii():
        return None
    if len(s) == 10 and s[2] == "/" and s[5] == "/":
        m, d, y = s[0:2], s[3:5], s[6:10]
    elif len(s) == 10 and s[4] == "-" and s[7] == "-":
        y, m, d = s[0:4], s[5:7], s[8:10]
    else:
        return None
    if not (m.isdigit() and d.isdigit() and y.isdigit()) or int(y) < 1000:
        return None
    try:
        date(int(y), int(m), int(d))
    except ValueError:
        return ""  # shape matched but invalid calendar date → strptime fails too
    return y + m + d


def parse_date_key(s: str | None) -> str:
    """MM/DD/YYYY or YYYY-MM-DD → YYYYMMDD; unparseable → "".

    Ref: main.py:90-99 (_parse_date_key).
    """
    if not s:
        return ""
    fast = _fast_datekey(s)
    if fast is not None:
        return fast
    for fmt in ("%m/%d/%Y", "%Y-%m-%d"):
        try:
            return datetime.strptime(s, fmt).strftime("%Y%m%d")
        except Exception:
            pass
    return ""


# ---------------------------------------------------------------------------
# G8/G9 — source-account & closing-date extraction
# (ref: strategies/amex_multiline.py:36-38; pyc semantic_extractor)
# ---------------------------------------------------------------------------

_SOURCE_RE = re.compile(r"Account\s*Ending[-\s]*(?:\d-)?(\d{5})", re.IGNORECASE)
_CLOSING_RE = re.compile(r"Closing Date (\d{1,2}/\d{1,2}/\d{2,4})")


def extract_closing_date(text: str) -> str | None:
    """'Closing Date MM/DD/YYYY' → the raw date string, else None.

    Ref: (pyc) semantic_extractor.extract_closing_date.
    """
    m = _CLOSING_RE.search(text)
    return m.group(1) if m else None


def extract_source_account(page_texts: list[str]) -> str:
    """Statement-level source account: FIRST regex match per page, LAST
    matching page wins.

    Ref: strategies/amex_multiline.py:33-41 — the reference loops pages,
    takes `search` (first match) per page text, and overwrites the account on
    every matching page. A page holding two 'Account Ending' strings thus
    contributes its FIRST one (a findall[-1] over joined text would take the
    second — the round-1 byte-identity nit, fixed here).
    """
    account = "Unknown Source"
    for page in page_texts:
        m = _SOURCE_RE.search(page or "")
        if m:
            account = f"AMEX {m.group(1)}"
    return account


# ---------------------------------------------------------------------------
# B1-B4 — strategy-match predicates & dispatch
# (ref: strategies/*.py matches(); universal_parser.py:26-37)
# ---------------------------------------------------------------------------

_B1_DATES_AMOUNTS = re.compile(r"\d{2}/\d{2}/\d{2,4}.*\$-?\(?\d")
_B1_FEES = re.compile(r"Total\s+Fees\s+for\s+this\s+Period", re.IGNORECASE)
_B1_INTEREST = re.compile(r"Interest\s+Charged", re.IGNORECASE)
_B1_DOLLAR_STAR = re.compile(r"\$\d+\.\d{2}\*")


def amex_matches(text: str) -> bool:
    """Score ≥2 of 4 regex features (ref: strategies/amex_multiline.py:12-25)."""
    score = sum(
        [
            bool(_B1_DATES_AMOUNTS.search(text)),
            bool(_B1_FEES.search(text)),
            bool(_B1_INTEREST.search(text)),
            bool(_B1_DOLLAR_STAR.search(text)),
        ]
    )
    return score >= 2


def tabular_matches(text: str) -> bool:
    """DATE & DESCRIPTION & AMOUNT in upper(text) (ref: strategies/tabular_parser.py:7-9)."""
    u = text.upper()
    return "DATE" in u and "DESCRIPTION" in u and "AMOUNT" in u


def ocr_matches(text: str) -> bool:
    """'scanned image' or 'ocr' in lower(text) (ref: strategies/ocr_parser.py:7-9)."""
    lo = text.lower()
    return "scanned image" in lo or "ocr" in lo


def dispatch_strategy(text: str) -> str:
    """First-match-wins over [amex, tabular, ocr]; '' if none.

    Ref: universal_parser.py:7,26-37 (STRATEGIES order).
    """
    if amex_matches(text):
        return "amex"
    if tabular_matches(text):
        return "tabular"
    if ocr_matches(text):
        return "ocr"
    return ""


# ---------------------------------------------------------------------------
# B5/B6 + E1 + G6 — the AMEX multiline block parser
# (ref: strategies/amex_multiline.py:44-113)
# ---------------------------------------------------------------------------

_LINE_START_DATE_RE = re.compile(r"^\d{2}/\d{2}/\d{2,4}")
_NOISE_MEMO_RE = re.compile(
    r"(new balance|min.*payment|membership rewards|account summary|customer care|gold card|p\.\s*\d+/)"
)
_ALL_NUMERIC_MEMO_RE = re.compile(r"[\d\.\s-]+")


def is_valid_line(line: str) -> bool:
    """Txn start line: begins MM/DD/YY(YY) and contains '$'.

    Ref: strategies/amex_multiline.py:51-53.
    """
    line = line.strip()
    return bool(_LINE_START_DATE_RE.match(line) and "$" in line)


def parse_block(block: list[str], account_source: str) -> dict | None:
    """One candidate block → txn dict or None (ref: strategies/amex_multiline.py:71-113).

    Order-sensitive for byte-identity: first date match and first amount match
    are removed from the joined text (str.replace removes the FIRST occurrence)
    before whitespace collapse and the 80-char memo truncation.
    """
    full_text = " ".join(block).strip()

    date_match = DATE_RE.search(full_text)
    amount_match = AMOUNT_RE.search(full_text)
    if not date_match or not amount_match:
        return None

    raw_date = date_match.group(1)
    raw_amount = amount_match.group(1)

    amount = clean_amount(raw_amount)
    if amount is None:
        return None

    memo_text = full_text.replace(raw_date, "").replace(raw_amount, "").strip()
    memo_text = re.sub(r"[\s]{2,}", " ", memo_text)
    memo_raw = memo_text[:80].strip() or "Unknown"
    memo = clean_vendor_name(memo_raw)

    lo = memo_raw.lower()
    if _NOISE_MEMO_RE.search(lo):
        return None
    if _ALL_NUMERIC_MEMO_RE.fullmatch(memo_raw):
        return None
    if lo in ["unknown", "", "$", "-", "–"]:
        return None

    return {"date": raw_date, "memo": memo, "amount": amount, "source": account_source}


def segment_blocks(lines: list[str]) -> list[list[str]]:
    """E1 — line→block segmentation: a new block starts at each valid txn line.

    Ref: strategies/amex_multiline.py:55-67. NOTE the reference quirk,
    reproduced exactly: any prefix lines before the first valid line form the
    first block (appended before the first flush), and the final block is
    always flushed.
    """
    blocks: list[list[str]] = []
    current: list[str] = []
    for line in lines:
        if is_valid_line(line):
            if current:
                blocks.append(current)
            current = []
        current.append(line)
    if current:
        blocks.append(current)
    return blocks


def _amex_rows(text: str, account_source: str) -> list[dict]:
    transactions = []
    for block in segment_blocks(text.split("\n")):
        tx = parse_block(block, account_source)
        if tx:
            transactions.append(tx)
    return transactions


def parse_amex_text(text: str, page_texts: list[str] | None = None) -> list[dict]:
    """Full AMEX parse of an already-extracted text layer.

    Mirrors AmexMultilineParser.parse() (ref: strategies/amex_multiline.py:44-69)
    with extract_text() replaced by the provided text (the rebuild's pages
    table carries the text layer; PDF byte decode is in pdf_codec/pdf_layout).
    Source account follows the reference's per-page loop exactly via
    `extract_source_account`; callers without page boundaries (single-page
    HTML payloads) pass the whole text as one page.
    """
    return _amex_rows(
        text, extract_source_account(page_texts if page_texts is not None else [text])
    )


def extract_transactions_from_text(
    text: str | None, page_texts: list[str] | None = None
) -> tuple[list[dict], dict]:
    """Strategy dispatch + parse: (rows, meta) (ref: universal_parser.py:9-37).

    ``meta["strategy"]`` is the dispatched strategy ('' for empty text).
    Tabular and OCR strategies are detected but emit no rows, matching the
    reference placeholders (strategies/tabular_parser.py:11-14,
    strategies/ocr_parser.py:11-14).
    """
    strategy = dispatch_strategy(text) if text else ""
    if strategy != "amex":
        return [], {"strategy": strategy, "source_account": ""}
    source = extract_source_account(page_texts if page_texts is not None else [text])
    return _amex_rows(text, source), {"strategy": strategy, "source_account": source}


def txn_records(rows: list[dict]) -> list[dict]:
    """Parsed rows → the nested txn structs the extraction and OCR stages
    emit (txn_index = position, dateKey derived from date)."""
    return [
        {
            "txn_index": i,
            "date": r["date"],
            "dateKey": parse_date_key(r["date"]),
            "memo": r["memo"],
            "amount": r["amount"],
            "source": r["source"],
        }
        for i, r in enumerate(rows)
    ]


# ---------------------------------------------------------------------------
# B7-B10 — pyc-recovered filters (deleted parse.py / semantic_extractor.py)
# ---------------------------------------------------------------------------

def is_valid_amount(amount: float | None) -> bool:
    """B10 — abs(amount) >= 0.01 (ref: (pyc) parse.is_valid_amount)."""
    if amount is None:
        return False
    return abs(amount) >= 0.01


def looks_like_summary_interest_row(
    memo: str | None, date: str | None, amount: float | None
) -> bool:
    """B9 — statement-summary interest heuristic.

    Ref: (pyc) parse.looks_like_summary_interest_row constants:
    keywords ('interest','pay over time','apr','summary'), cutoff 2023-10-01,
    amount threshold 100, memo word-count 6. Reconstructed rule: a row whose
    memo hits a keyword AND is short (≤6 words) AND has a large amount
    (≥100) AND dates before the cutoff is a summary row, not a transaction.
    """
    lo = (memo or "").lower()
    if not any(k in lo for k in ("interest", "pay over time", "apr", "summary")):
        return False
    if len(lo.split()) > 6:
        return False
    if amount is None or abs(amount) < 100:
        return False
    try:
        d = datetime.strptime(date or "", "%m/%d/%Y")
    except Exception:
        return False
    return d < datetime(2023, 10, 1)


# ---------------------------------------------------------------------------
# G10 — display amount (pure-core; the bank-match probe is a Spark semi-join)
# ---------------------------------------------------------------------------


def sign(x) -> int:
    """1/-1/0 sign with float coercion (ref: utils/display_amount.py:11-16)."""
    try:
        v = float(x or 0.0)
    except Exception:
        v = 0.0
    return 1 if v > 0 else (-1 if v < 0 else 0)


def absf(x) -> float:
    """abs(float(x or 0)) with failure→0.0 (ref: utils/display_amount.py:5-9)."""
    try:
        return abs(float(x or 0.0))
    except Exception:
        return 0.0


def compute_display_amount(
    amount, source_type: str | None, has_bank_match: bool
) -> float:
    """G10 — display sign logic; the Firestore probe (C2) is precomputed.

    Ref: utils/display_amount.py:57-79. bank: signed abs (identity on sign);
    card: positive → abs; negative → abs iff a bank counterpart exists within
    ±5 days / ±0.01, else -abs; other types passthrough.
    """
    st = (source_type or "").strip().lower()
    sgn = sign(amount)
    abs_amt = absf(amount)
    if st == "bank":
        return abs_amt if sgn >= 0 else -abs_amt
    if st == "card":
        if sgn > 0:
            return abs_amt
        if has_bank_match:
            return abs_amt
        return -abs_amt
    try:
        return float(amount or 0.0)
    except Exception:
        return 0.0


# ---------------------------------------------------------------------------
# G12-G14 — journal-side scalar functions
# ---------------------------------------------------------------------------


def clean_contra(label: str | None) -> str:
    """G12 — strip '(...)'-groups and ' - …' suffixes containing 'contra'.

    Ref: routes/coa.py:33-59 (_clean_contra).
    """
    if not label:
        return ""
    t = str(label)
    i = t.find("(")
    while i != -1:
        j = t.find(")", i + 1)
        if j == -1:
            break
        inner = t[i + 1 : j]
        if "contra" in inner.lower():
            left = t[:i].rstrip()
            right = t[j + 1 :].lstrip()
            if left.endswith("-"):
                left = left[:-1].rstrip()
            t = (left + " " + right).strip()
            i = t.find("(")
            continue
        i = t.find("(", j + 1)
    dash = t.find(" - ")
    if dash != -1:
        right = t[dash + 3 :].lower()
        if "contra" in right:
            t = t[:dash].rstrip()
    while "  " in t:
        t = t.replace("  ", " ")
    return t.strip()


def to_number(x) -> float:
    """G13 — keep chars [0-9.-], float, else 0.0 (ref: routes/journal.py:7-18)."""
    if isinstance(x, (int, float)):
        return float(x)
    s = str(x) if x is not None else ""
    out = [ch for ch in s if ("0" <= ch <= "9") or ch in ".-"]
    try:
        return float("".join(out)) if out else 0.0
    except Exception:
        return 0.0


def parse_amount_fragment(s: str) -> float:
    """G13b — digit-keep float with (..)-negation (ref: routes/journal_detail.py:45-58)."""
    neg = "(" in s and ")" in s
    digits = [ch for ch in s if ("0" <= ch <= "9") or ch in ".-"]
    txt = "".join(digits) or "0"
    try:
        val = float(txt)
    except Exception:
        val = 0.0
    if neg and val > 0:
        val = -val
    return val


def txn_uid(t: dict) -> str:
    """G14 — derived txn uid f"{date}-{memo[:24]}-{amount}".

    Ref: routes/journal.py:20-27 (_uid_for). Python float repr must be
    preserved (1.0 not 1) — the Spark side casts through format matching this.
    """
    date = (t.get("date") or "").split("T")[0] or (t.get("date") or "")
    memo = str(t.get("memo_clean") or t.get("memo") or t.get("memo_raw") or "")[:24]
    try:
        amount = float(t.get("amount") or 0.0)
    except Exception:
        amount = 0.0
    return f"{date}-{memo}-{amount}"


# ---------------------------------------------------------------------------
# D4 — best-token-overlap mapping onto the allowed chart of accounts
# (ref: utils/classify_transaction.py:4-37)
# ---------------------------------------------------------------------------

# Static chart of accounts (ref: routes/coa.py:6-31; flat list main.py:136-157)
CHART: dict[str, list[str]] = {
    "Cash": ["1000 - Checking Account", "1010 - Savings Account", "1020 - Petty Cash"],
    "Accounts Receivable": ["1030 - Accounts Receivable"],
    "Prepaid Expenses": ["1040 - Prepaid Expenses"],
    "Fixed Assets": ["1060 - Fixed Assets", "1070 - Accumulated Depreciation"],
    "Other Asset": ["1050 - Inventory"],
    "Accounts Payable": ["2000 - Accounts Payable"],
    "Credit Cards": ["2010 - Credit Card Payables"],
    "Loans": ["2040 - Loan Payable"],
    "Other Liabilities": ["2020 - Payroll Liabilities", "2030 - Sales Tax Payable"],
    "Contributions": ["3000 - Contributions"],
    "Draws": ["3010 - Draws"],
    "Retained Earnings": ["3020 - Retained Earnings"],
    "Revenue": [
        "4000 - Product Sales",
        "4010 - Service Income",
        "4020 - Subscription Revenue",
        "4030 - Consulting Income",
        "4040 - Other Revenue",
        "4090 - Refunds and Discounts",
    ],
    "COGS": [
        "5000 - Inventory Purchases",
        "5010 - Subcontracted Labor",
        "5020 - Packaging & Shipping Supplies",
        "5030 - Merchant Fees",
    ],
    "Operating Expenses": [
        "6000 - Salaries and Wages",
        "6010 - Payroll Taxes",
        "6020 - Employee Benefits",
        "6030 - Independent Contractors",
        "6040 - Bonuses & Commissions",
        "6050 - Workers Compensation Insurance",
        "6060 - Recruiting & Hiring",
    ],
    "Facilities & Overhead": [
        "6100 - Rent or Lease Expense",
        "6110 - Utilities",
        "6120 - Insurance",
        "6130 - Repairs & Maintenance",
        "6140 - Office Supplies",
        "6150 - Telephone & Internet",
    ],
    "Marketing & Sales": [
        "6200 - Advertising & Promotion",
        "6210 - Social Media & Digital Ads",
    ],
    "Meals & Entertainment": ["6220 - Meals & Entertainment"],
    "Gifts": ["6230 - Client Gifts"],
    "General & Admin": [
        "6300 - Software Subscriptions",
        "6310 - Bank Fees",
        "6320 - Dues & Licenses",
        "6330 - Postage & Delivery",
    ],
    "Professional Services": [
        "6400 - Legal Fees",
        "6410 - Accounting & Bookkeeping",
        "6420 - Consulting Fees",
        "6430 - Tax Prep & Advisory",
    ],
    "Travel": [
        "6500 - Travel - Airfare",
        "6510 - Travel - Lodging",
        "6520 - Travel - Meals",
        "6530 - Travel - Other (Taxis, Parking)",
    ],
    "Taxes": [
        "8000 - State Income Tax",
        "8010 - Franchise Tax",
        "8020 - Local Business Taxes",
        "8030 - Estimated Tax Payments",
    ],
    "Uncategorized": ["7090 - Uncategorized Expense"],
}

ALLOWED_ACCOUNTS: list[str] = [a for group in CHART.values() for a in group]


def fallback_account(allowed_accounts: list[str] | None = None) -> str:
    """Uncategorized-expense fallback (ref: utils/classify_transaction.py:5-13)."""
    if allowed_accounts:
        lowers = {a.lower(): a for a in allowed_accounts}
        for key in (
            "uncategorized",
            "7090 - uncategorized expense",
            "7090-uncategorized expense",
        ):
            for k, v in lowers.items():
                if key in k:
                    return v
        return allowed_accounts[0]
    return "7090 - Uncategorized Expense"


def force_map_to_allowed(chosen: str | None, allowed_accounts: list[str] | None) -> str:
    """D4 — exact lc match → substring match → max shared-token count.

    Ref: utils/classify_transaction.py:15-37 (_force_map_to_allowed).
    """
    if not chosen:
        return fallback_account(allowed_accounts)
    if not allowed_accounts:
        return chosen
    lc_map = {a.lower(): a for a in allowed_accounts}
    c = chosen.strip().lower()
    if c in lc_map:
        return lc_map[c]
    for a in allowed_accounts:
        al = a.lower()
        if c in al or al in c:
            return a
    ctoks = [t for t in c.split(" ") if t]
    best = None
    best_hits = -1
    for a in allowed_accounts:
        toks = [t for t in a.lower().split(" ") if t]
        hits = sum(1 for t in ctoks if t in toks)
        if hits > best_hits:
            best = a
            best_hits = hits
    return best or fallback_account(allowed_accounts)


# ---------------------------------------------------------------------------
# H1 — journal explode (pure oracle; Spark side in operators/journal.py)
# ---------------------------------------------------------------------------


def journal_entries(txns: list[dict]) -> list[dict]:
    """Each non-shadow txn → Debit + Credit line (ref: routes/journal.py:29-51)."""
    lines: list[dict] = []
    for i, t in enumerate(txns):
        if t.get("eventLeader") is False or str(t.get("pairReason") or "") == "shadow":
            continue
        date = str(t.get("date") or "")
        memo = str(t.get("memo_clean") or t.get("memo") or t.get("memo_raw") or "")
        amount = to_number(t.get("amount"))
        account = str(t.get("account") or "Uncategorized")
        source = str(t.get("source") or t.get("source_account") or "Offset")
        abs_amt = abs(amount)
        txn_id = str(t.get("id") or txn_uid(t))
        lines.append(
            {
                "id": f"{i}-debit",
                "txnId": txn_id,
                "date": date,
                "memo": memo,
                "account": account if amount >= 0 else source,
                "type": "Debit",
                "amount": abs_amt,
            }
        )
        lines.append(
            {
                "id": f"{i}-credit",
                "txnId": txn_id,
                "date": date,
                "memo": memo,
                "account": account if amount < 0 else source,
                "type": "Credit",
                "amount": abs_amt,
            }
        )
    return lines

