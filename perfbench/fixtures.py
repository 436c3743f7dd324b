"""Seeded provider fixtures for the holdings workload, and the model the
output check compares against.

Every value is a pure function of (seed, fund, day, holding), so a day
that a provider re-delivers is byte-identical to the first delivery and
the three provider shapes agree on every row:

* nexveridian flat JSON (``Source.API_INCREMENTAL``),
* arkfunds.io nested JSON (``Source.ARKFUNDSIO_INCREMENTAL``),
* the ARK daily CSV (``Source.ARK``; also the backfill history format).

Market value is ``shares * price`` with ``shares`` a multiple of 100, so
it is a whole number of dollars, the CSV's ``$`` string truncates
nothing, and the JSON ``share_price`` equals what ``derive_share_price``
computes from the CSV's market value and shares.

The universe keeps the real multi-pass rule cascades (``ROCKET LAB USA
INC``, ``BLOCK``, the cash spellings, ``TAIWANMICONDUCTORSP``). The
model computes each raw name's canonical form with an independent
pure-Python reading of the package's rule tables, iterated to the
fixpoint.
"""

from __future__ import annotations

import csv
import datetime
import hashlib
import io
import json
import random
from urllib.parse import parse_qs, urlparse

from ark_invest_api_rust_data_spark.functions.rules import SECURITY_RULES
from ark_invest_api_rust_data_spark.functions.strings import COMPANY_RULES, TICKER_RULES
from ark_invest_api_rust_data_spark.tickers import SCHEDULED_EXCLUDED, Source, Ticker

FUNDS = [t for t in Ticker if t not in SCHEDULED_EXCLUDED]
SHAPES = [Source.API_INCREMENTAL, Source.ARKFUNDSIO_INCREMENTAL, Source.ARK]
FIRST_DAY = datetime.date(2023, 1, 2)
CSV_HEADER = ["date", "fund", "company", "ticker", "cusip", "shares",
              "market value ($)", "weight (%)"]

# (raw company, raw ticker) as providers spell them. The first block is
# the cascade set; the rest are ordinary names with exchange suffixes
# and corporate noise for the C6/C7 chains to strip.
UNIVERSE = [
    ("ROCKET LAB USA INC", "RKLB UW"),
    ("BLOCK", "SQ UN"),
    ("Cash & Cash Equivalents", "CASH"),
    ("CASH & CASH EQUIVALENTS", "CASH"),
    ("GOLDMAN FS TRSY OBLIG INST 468", "GOLDMAN"),
    ("Cash & Other", "CASH"),
    ("TAIWANMICONDUCTORSP", "TSM UN"),
    ("TESLA INC", "TSLA UW"),
    ("COINBASE GLOBAL INC -CLASS A", "COIN UQ"),
    ("ROKU INC", "ROKU UW"),
    ("SHOPIFY INC - CLASS A", "SHOP CN"),
    ("DRAFTKINGS INC", "DKNN UW"),
    ("PALANTIR TECHNOLOGIES INC", "PLTR UN"),
    ("CRISPR THERAPEUTICS AG", "CRSP UW"),
    ("UIPATH INC - CLASS A", "PATH UN"),
    ("ROBLOX CORP -CLASS A", "RBLX UN"),
    ("TWIST BIOSCIENCE CORP", "TWST UW"),
    ("RECURSION PHARMACEUTICALS", "RXRX UW"),
    ("TERADYNE INC", "TER UW"),
    ("ZOOM VIDEO COMMUNICATIONS", "ZM UW"),
    ("META PLATFORMS INC", "META UW"),
    ("ADVANCED MICRO DEVICES", "AMD UW"),
    ("NVIDIA CORP", "NVDA UW"),
    ("AMAZONCOM INC", "AMZN UW"),
    ("DEERE & CO", "DE UN"),
    ("KRATOS DEFENSE & SECURITY", "KTOS UW"),
    ("IRIDIUM COMMUNICATIONS INC", "IRDM UW"),
    ("ARCHER AVIATION INC", "ACHR UN"),
    ("CIRCLE INTERNET GROUP", "CRCL UN"),
    ("COREWEAVE", "CRWV UW"),
    ("ETORO GROUP", "ETOR UW"),
    ("INTUITIVE MACHINES", "LUNR UW"),
    ("TEMPUS AI INC", "TEM UW"),
    ("BEAM THERAPEUTICS INC", "BEAM UW"),
    ("PACIFIC BIOSCIENCES OF CALIFORNIA", "PACB UW"),
    ("10X GENOMICS INC", "TXG UW"),
    ("NATERA INC", "NTRA UW"),
    ("ROBINHOOD MARKETS INC", "HOOD UW"),
    ("SOFI TECHNOLOGIES INC", "SOFI UW"),
    ("TOAST INC", "TOST UN"),
    ("DOCEBO INC", "DCBO UW"),
    ("EXACT SCIENCES CORP", "EXAS UW"),
    ("VERACYTE INC", "VCYT UW"),
    ("ILLUMINA INC", "ILMN UW"),
    ("PINTEREST INC- CLASS A", "PINS UN"),
    ("DOORDASH INC - A", "DASH UW"),
    ("GINKGO BIOWORKS HOLDINGS INC", "DNA UN"),
    ("AIRBNB INC", "ABNB UW"),
]
N_CASCADE = 7  # the first entries of UNIVERSE


# ---------------------------------------------------------------------
# model: the canonical (company, ticker) a raw pair converges to


def _chain(s: str, rules) -> str:
    for pat, rep, first in rules:
        s = s.replace(pat, rep, 1) if first else s.replace(pat, rep)
    return s.rstrip(" ")


def _one_pass(company: str, ticker: str) -> tuple[str, str]:
    for rule in SECURITY_RULES:
        row = {"company": company, "ticker": ticker}
        if row[rule.match_col] == rule.match_val:
            for target, new in rule.sets:
                row[target] = new
        company, ticker = row["company"], row["ticker"]
    return _chain(company, COMPANY_RULES), _chain(ticker, TICKER_RULES)


def canonical_name(company: str, ticker: str) -> tuple[str, str]:
    """Fixpoint of the security rules + C6/C7 chains on one raw pair."""
    for _ in range(10):
        nxt = _one_pass(company, ticker)
        if nxt == (company, ticker):
            return nxt
        company, ticker = nxt
    raise ValueError(f"rule cascade does not converge for {company!r}")


# ---------------------------------------------------------------------
# generator


class Holdings:
    """Fixture universe for one seed: ``holdings`` positions per fund;
    day ``i`` is ``FIRST_DAY + i``."""

    def __init__(self, seed: int, holdings: int):
        self.seed = seed
        self.cusip = {n: f"{i:03d}{'ABCDEFGHJK'[i % 10]}X{seed % 97:02d}"
                      for i, n in enumerate(UNIVERSE)}
        rng = random.Random(f"universe:{seed}")
        cascade = UNIVERSE[:N_CASCADE]
        # every fund holds the cascade names, so every shape and every
        # re-delivered day carries them; the rest is a seeded subset
        self.members = {
            f.name: cascade + rng.sample(UNIVERSE[N_CASCADE:], holdings - len(cascade))
            for f in FUNDS
        }
        self.canon = {n: canonical_name(*n) for n in UNIVERSE}
        self.by_url = {f.get_url(): f for f in FUNDS}

    def day(self, i: int) -> datetime.date:
        return FIRST_DAY + datetime.timedelta(days=i)

    def position(self, fund: str, day: int, name) -> tuple[int, int, int]:
        """(shares, price_cents, weight_bp) for one holding-day."""
        key = f"{self.seed}:{fund}:{day}:{name[0]}".encode()
        r = int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")
        return (100 * (1 + r % 5000), 100 + (r >> 16) % 89901, 1 + (r >> 40) % 1500)

    def raw_rows(self, fund: str, first: int, last: int):
        for d in range(first, last + 1):
            for name in self.members[fund]:
                yield d, name, self.position(fund, d, name)

    def csv_text(self, fund: str, first: int, last: int) -> str:
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(CSV_HEADER)
        for d, (company, ticker), (shares, cents, bp) in self.raw_rows(fund, first, last):
            w.writerow([
                self.day(d).strftime("%m/%d/%Y"), fund, company, ticker,
                self.cusip[(company, ticker)], f"{shares:,}",
                f"${shares * cents // 100:,}.00", f"{bp / 100:.2f}%",
            ])
        return buf.getvalue()

    def json_records(self, fund: str, first: int, last: int) -> list[dict]:
        out = []
        for d, (company, ticker), (shares, cents, bp) in self.raw_rows(fund, first, last):
            out.append({
                "company": company, "cusip": self.cusip[(company, ticker)],
                "date": self.day(d).isoformat(),
                "market_value": float(shares * cents // 100),
                "share_price": cents / 100, "shares": float(shares),
                "ticker": ticker, "weight": bp / 100, "weight_rank": 1,
            })
        return out

    def expected(self, fund: str, first: int, last: int) -> set[tuple]:
        """Canonical rows (date, ticker, cusip, company, market_value,
        shares, share_price, weight) the cache must hold for these days."""
        out = set()
        for d, name, (shares, cents, bp) in self.raw_rows(fund, first, last):
            company, ticker = self.canon[name]
            out.add((self.day(d), ticker, self.cusip[name], company,
                     shares * cents // 100, shares, cents / 100, bp / 100))
        return out

    def fetcher(self, current: int, counter):
        """Fixture provider for the cycle that publishes day ``current``.
        The API shapes serve every day from the URL's watermark on (the
        watermark day itself comes again); the CSV serves the last two
        days. ``counter(rows)`` is told how many rows each body holds."""
        def fetch(url: str) -> str:
            u = urlparse(url)
            q = parse_qs(u.query)
            if u.netloc == "api.nexveridian.com":
                fund, first = q["ticker"][0], self._index(q["start"][0])
                recs = self.json_records(fund, first, current)
                counter(len(recs))
                return json.dumps(recs)
            if u.netloc == "arkfunds.io":
                fund, first = q["symbol"][0], self._index(q["date_from"][0])
                recs = self.json_records(fund, first, current)
                counter(len(recs))
                return json.dumps({"symbol": fund, "date_from": q["date_from"][0],
                                   "holdings": recs})
            fund = self.by_url[url].name
            counter(len(self.members[fund]) * 2)
            return self.csv_text(fund, current - 1, current)
        return fetch

    def _index(self, iso: str) -> int:
        return (datetime.date.fromisoformat(iso) - FIRST_DAY).days
