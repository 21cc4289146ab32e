"""Seeded generator of weekly ABR bulk-extract drops.

One ``AbrFeed`` holds the current Agency_Data register (pid -> line) and
advances it week by week with a chosen number of updated, removed and
added keys.  Each week it writes all 8 ``VIC<yymmdd>_ABR_<Dataset>.txt``
files of the extract (pipe-delimited, header row, the columns of
``abr_schemas.DATASET_COLUMNS``) and returns the ground-truth pid sets.

Field shapes follow the public extract: zero-padded postcodes, ACNs and
DPIDs, ``yyyymmdd`` dates with empty optional fields, entity and state
codes.  Every all-digit field keeps a fixed width, so the type an
inferring CSV reader gives each column is the same every week.

Everything is a pure function of the seed: the same seed gives
byte-identical files and identical truth sets.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np

from abr_etl_spark.sources.abr_schemas import DATASET_COLUMNS

DATASETS = tuple(sorted(DATASET_COLUMNS))

_GIVEN = np.array(
    "JOHN MARY DAVID SARAH MICHAEL EMMA JAMES OLIVIA PETER CHLOE ANH WEI "
    "PRIYA MOHAMMED LUCAS GRACE THOMAS ISLA NGUYEN RAJ".split()
)
_FAMILY = np.array(
    "SMITH JONES WILLIAMS BROWN WILSON TAYLOR NGUYEN JOHNSON MARTIN WHITE "
    "ANDERSON WALKER THOMPSON THOMAS LEE RYAN CHEN KELLY KING CAMPBELL".split()
)
_WORDS = np.array(
    "ACME SOUTHERN CROSS HARBOUR YARRA GOLDEN WATTLE BAYSIDE RIVERINA "
    "SUMMIT PIONEER COASTAL EUREKA GUMTREE BLUESTONE MERIDIAN KOALA".split()
)
_SUFFIX = np.array(["PTY LTD", "PTY. LTD.", "LIMITED", "HOLDINGS PTY LTD", "TRUST"])
_STREETS = np.array(
    "COLLINS BOURKE FLINDERS LONSDALE SWANSTON ELIZABETH CHAPEL SYDNEY "
    "HIGH MAIN STATION CHURCH".split()
)
_ST_TYPES = np.array(["ST", "RD", "AVE", "PDE", "HWY", "CRES"])
_SUBURBS = np.array(
    "CARLTON FITZROY RICHMOND GEELONG BALLARAT BENDIGO FRANKSTON DANDENONG "
    "DARWIN PALMERSTON CANBERRA BELCONNEN PARRAMATTA BRISBANE HOBART".split()
)
# (state, weight, lowest postcode, postcode span): NT (08xx) and ACT (02xx)
# carry the zero-padded postcodes.
_STATES = (
    ("VIC", 0.62, 3000, 999),
    ("NSW", 0.12, 2000, 999),
    ("QLD", 0.08, 4000, 999),
    ("SA", 0.04, 5000, 999),
    ("WA", 0.04, 6000, 999),
    ("TAS", 0.02, 7000, 999),
    ("NT", 0.04, 800, 99),
    ("ACT", 0.04, 200, 99),
)
_ENT_TYPES = np.array(["IND", "PRV", "PUB", "TRT", "PTR", "SMF"])
_ENT_P = np.array([0.45, 0.35, 0.03, 0.09, 0.06, 0.02])
_TITLES = np.array(["MR", "MRS", "MS", "MISS", "DR"])
_INDUSTRY = (
    ("69310", "ACCOUNTING SERVICES"),
    ("45110", "CAFES AND RESTAURANTS"),
    ("30190", "OTHER RESIDENTIAL BUILDING CONSTRUCTION"),
    ("70000", "COMPUTER SYSTEM DESIGN AND RELATED SERVICES"),
    ("85110", "GENERAL PRACTICE MEDICAL SERVICES"),
    ("01410", "SHEEP FARMING (SPECIALISED)"),
    ("04110", "ROCK LOBSTER AND CRAB POTTING"),
)
_DOMAINS = np.array(["bigpond.com", "gmail.com", "outlook.com.au", "icloud.com"])

#: side-dataset row counts as a share of the Agency_Data row count.
SIDE_SHARE = {
    "ACNC": 0.05,
    "Associates": 0.30,
    "Businesslocation": 0.50,
    "Businessname": 0.30,
    "Funds": 0.02,
    "Othtrdnames": 0.20,
    "Replacedabn": 0.01,
}

#: pids are 9-digit numbers: they always fit a 32-bit int, whatever week.
_PID_LO, _PID_HI = 100_000_000, 999_999_999

#: the bootstrap snapshot's date (a Monday); week n lands n weeks later.
_START = dt.date(2019, 1, 7)


@dataclass(frozen=True)
class WeekTruth:
    """Ground truth of one generated week against the week before it."""

    date: str  # yyyy-mm-dd, the importdate the lake derives
    updated: frozenset[str]
    added: frozenset[str]
    removed: frozenset[str]
    rows: int  # Agency_Data rows in the week's snapshot


def _choice(rng: np.random.Generator, values: np.ndarray, n: int, p=None) -> np.ndarray:
    return values[rng.choice(len(values), size=n, p=p)]


def _digits(rng: np.random.Generator, n: int, width: int, lo: int = 0) -> np.ndarray:
    """Zero-padded fixed-width digit strings."""
    v = rng.integers(lo, 10**width, size=n)
    return np.char.zfill(v.astype(str), width)


def _dates(rng: np.random.Generator, n: int, fill: float, lo="19990101") -> np.ndarray:
    """yyyymmdd strings, empty with probability 1 - fill."""
    base = np.datetime64(f"{lo[:4]}-{lo[4:6]}-{lo[6:]}")
    d = base + rng.integers(0, 7000, size=n).astype("timedelta64[D]")
    s = np.char.replace(d.astype(str), "-", "")
    return np.where(rng.random(n) < fill, s, "")


def _blank(values: np.ndarray, mask: np.ndarray) -> np.ndarray:
    return np.where(mask, values, "")


def _address(rng: np.random.Generator, n: int) -> np.ndarray:
    num = rng.integers(1, 400, size=n).astype(str)
    street = _choice(rng, _STREETS, n)
    kind = _choice(rng, _ST_TYPES, n)
    return np.char.add(np.char.add(np.char.add(num, " "), np.char.add(street, " ")), kind)


def _state_postcode(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    w = np.array([s[1] for s in _STATES])
    idx = rng.choice(len(_STATES), size=n, p=w / w.sum())
    lo = np.array([s[2] for s in _STATES])[idx]
    span = np.array([s[3] for s in _STATES])[idx]
    pc = lo + (rng.random(n) * (span + 1)).astype(int)
    return np.array([s[0] for s in _STATES])[idx], np.char.zfill(pc.astype(str), 4)


def agency_rows(rng: np.random.Generator, pids: np.ndarray) -> list[str]:
    """Agency_Data lines (34 fields, no newline) for the given pids."""
    n = len(pids)
    ent = _choice(rng, _ENT_TYPES, n, _ENT_P)
    ind = ent == "IND"
    company = (ent == "PRV") | (ent == "PUB")
    org = np.char.add(
        np.char.add(_choice(rng, _WORDS, n), " "),
        np.char.add(np.char.add(_choice(rng, _WORDS, n), " "), _choice(rng, _SUFFIX, n)),
    )
    given = _choice(rng, _GIVEN, n)
    family = _choice(rng, _FAMILY, n)
    son_stt, son_pc = _state_postcode(rng, n)
    bus_stt, bus_pc = _state_postcode(rng, n)
    has_bus = rng.random(n) < 0.6
    dpid_lo = 10**6  # some DPIDs lead with a zero, none with two
    industry = rng.integers(0, len(_INDUSTRY), size=n)
    has_ind = rng.random(n) < 0.7
    eml = np.char.add(
        np.char.add(np.char.lower(given), "."),
        np.char.add(np.char.add(np.char.lower(family), "@"), _choice(rng, _DOMAINS, n)),
    )
    cols = [
        pids.astype(str),
        rng.integers(10**10, 10**11, size=n).astype(str),  # abn: 11 digits
        ent,
        _blank(org, ~ind),
        _blank(_choice(rng, _TITLES, n), ind),
        _blank(given, ind),
        _blank(_choice(rng, _GIVEN, n), ind & (rng.random(n) < 0.5)),
        _blank(family, ind),
        _blank(np.full(n, "JR"), ind & (rng.random(n) < 0.02)),
        _dates(rng, n, 1.0),
        _dates(rng, n, 0.15, "20100101"),
        _blank(np.char.add(_choice(rng, _WORDS, n), " TRADING"), rng.random(n) < 0.3),
        _blank(np.char.add("PO BOX ", rng.integers(1, 9999, size=n).astype(str)), rng.random(n) < 0.2),
        _blank(np.full(n, "LEVEL 2"), rng.random(n) < 0.05),
        _choice(rng, _SUBURBS, n),
        son_stt,
        son_pc,
        np.full(n, "AUS"),
        _digits(rng, n, 8, dpid_lo),
        _blank(_address(rng, n), has_bus),
        _blank(np.char.add("UNIT ", rng.integers(1, 60, size=n).astype(str)), has_bus & (rng.random(n) < 0.15)),
        _blank(_choice(rng, _SUBURBS, n), has_bus),
        _blank(bus_stt, has_bus),
        _blank(bus_pc, has_bus),
        _blank(np.full(n, "AUS"), has_bus),
        _blank(_digits(rng, n, 8, dpid_lo), has_bus),
        _blank(eml, rng.random(n) < 0.4),
        _blank(np.full(n, "Y"), rng.random(n) < 0.03),
        _dates(rng, n, 0.45, "20000701"),
        _dates(rng, n, 0.08, "20050101"),
        _blank(np.array([_INDUSTRY[i][0] for i in range(len(_INDUSTRY))])[industry], has_ind),
        _blank(np.array([_INDUSTRY[i][1] for i in range(len(_INDUSTRY))])[industry], has_ind),
        _blank(_digits(rng, n, 9, 10**5), company),  # acn: 9 digits, zero-padded
        np.where(rng.random(n) < 0.02, "Y", "N"),
    ]
    assert len(cols) == len(DATASET_COLUMNS["Agency_Data"])
    return ["|".join(t) for t in zip(*(c.tolist() for c in cols))]


def side_rows(rng: np.random.Generator, ds: str, pids: np.ndarray) -> list[str]:
    """Lines for one of the 7 datasets the flow lands without a delta."""
    n = len(pids)
    abn = rng.integers(10**10, 10**11, size=n).astype(str)
    given = _choice(rng, _GIVEN, n)
    family = _choice(rng, _FAMILY, n)
    org = np.char.add(np.char.add(_choice(rng, _WORDS, n), " "), _choice(rng, _SUFFIX, n))
    if ds == "ACNC":
        cols = [abn, _dates(rng, n, 1.0, "20121203"), _dates(rng, n, 0.1, "20150101")]
    elif ds == "Associates":
        person = rng.random(n) < 0.8
        cols = [
            abn,
            _choice(rng, np.array(["DIR", "SEC", "PTR", "TRT", "PUB"]), n),
            _blank(org, ~person),
            _blank(_choice(rng, _TITLES, n), person),
            _blank(given, person),
            _blank(_choice(rng, _GIVEN, n), person & (rng.random(n) < 0.5)),
            _blank(family, person),
            _blank(np.full(n, "JR"), person & (rng.random(n) < 0.02)),
            _dates(rng, n, 1.0),
            _dates(rng, n, 0.2, "20100101"),
        ]
    elif ds == "Businesslocation":
        stt, pc = _state_postcode(rng, n)
        cols = [
            abn,
            _address(rng, n),
            _blank(np.full(n, "SHOP 1"), rng.random(n) < 0.1),
            _choice(rng, _SUBURBS, n),
            stt,
            pc,
            np.full(n, "AUS"),
            _digits(rng, n, 8, 10**6),
        ]
    elif ds == "Businessname":
        cols = [
            abn,
            np.char.add(_choice(rng, _WORDS, n), " SERVICES"),
            _choice(rng, np.array(["BN", "TRD", "OTN"]), n),
            _dates(rng, n, 1.0, "20120528"),
            _dates(rng, n, 0.1, "20150101"),
        ]
    elif ds == "Funds":
        cols = [
            abn,
            _choice(rng, np.array(["SMF", "APR", "REG"]), n),
            np.char.add(family, " SUPERANNUATION FUND"),
            _dates(rng, n, 1.0),
            _dates(rng, n, 0.1, "20100101"),
        ]
    elif ds == "Othtrdnames":
        cols = [abn, np.char.add(_choice(rng, _WORDS, n), " TRADING CO"), _dates(rng, n, 1.0)]
    elif ds == "Replacedabn":
        cols = [abn, rng.integers(10**10, 10**11, size=n).astype(str)]
    else:
        raise ValueError(f"unknown dataset {ds!r}")
    cols = [pids.astype(str)] + cols
    assert len(cols) == len(DATASET_COLUMNS[ds]), ds
    return ["|".join(t) for t in zip(*(c.tolist() for c in cols))]


class AbrFeed:
    """The Agency_Data register and its weekly evolution, from one seed."""

    def __init__(self, seed: int, rows: int):
        self.rng = np.random.default_rng(seed)
        self.week = 0
        self._used: set[int] = set()
        pids = self._new_pids(rows)
        self.register: dict[str, str] = dict(
            zip(pids.astype(str).tolist(), agency_rows(self.rng, pids))
        )
        self.side = {
            ds: side_rows(
                self.rng,
                ds,
                self.rng.choice(pids, size=max(1, int(rows * share)), replace=False),
            )
            for ds, share in sorted(SIDE_SHARE.items())
        }

    def _new_pids(self, n: int) -> np.ndarray:
        """n pids never used before by this feed (removed ones included)."""
        out: list[int] = []
        while len(out) < n:
            for p in self.rng.integers(_PID_LO, _PID_HI + 1, size=n - len(out)).tolist():
                if p not in self._used:
                    self._used.add(p)
                    out.append(p)
        return np.array(out, dtype=np.int64)

    @property
    def date(self) -> dt.date:
        return _START + dt.timedelta(days=7 * self.week)

    def advance(self, updated: int, removed: int, added: int) -> WeekTruth:
        """Move the register one week on and return that week's truth."""
        keys = sorted(self.register)
        picked = self.rng.choice(len(keys), size=updated + removed, replace=False)
        upd = [keys[i] for i in picked[:updated]]
        rem = [keys[i] for i in picked[updated:]]
        self.week += 1
        for pid in upd:
            f = self.register[pid].split("|")
            # change one string-typed field to a value it cannot hold yet
            col = int(self.rng.integers(0, 3))
            if col == 0:
                f[19] = f"{self.week} {f[19] or 'NEW'} {self.rng.choice(_STREETS)} ST"
            elif col == 1:
                f[26] = f"wk{self.week}.{pid}@{self.rng.choice(_DOMAINS)}"
            else:
                f[11] = f"{self.rng.choice(_WORDS)} TRADING {self.week}"
            self.register[pid] = "|".join(f)
        for pid in rem:
            del self.register[pid]
        new = self._new_pids(added)
        self.register.update(zip(new.astype(str).tolist(), agency_rows(self.rng, new)))
        return WeekTruth(
            date=self.date.isoformat(),
            updated=frozenset(upd),
            added=frozenset(new.astype(str).tolist()),
            removed=frozenset(rem),
            rows=len(self.register),
        )

    def write_drop(self, drop_dir: str, datasets=DATASETS) -> int:
        """Write this week's extract files; returns the bytes written."""
        os.makedirs(drop_dir, exist_ok=True)
        yymmdd = self.date.strftime("%y%m%d")
        total = 0
        for ds in datasets:
            lines = self.register.values() if ds == "Agency_Data" else self.side[ds]
            body = "|".join(DATASET_COLUMNS[ds]) + "\n" + "\n".join(lines) + "\n"
            data = body.encode()
            with open(os.path.join(drop_dir, f"VIC{yymmdd}_ABR_{ds}.txt"), "wb") as fh:
                fh.write(data)
            total += len(data)
        return total
