"""Seeded vote-event generator with exact expected tallies.

Events are JSON lines in the pipeline's vote-event schema (the denormalised
voter + candidate + ``voting_time`` + ``vote`` record).  Besides first
votes, the stream carries the three irregularities the tally must absorb:

* retries: a voter who already voted sends again, same candidate, later
  timestamp.  ``dedup_one_vote`` must drop them;
* late events: a first vote stamped 1-5 minutes before the stream's current
  event time, inside the pipeline's 10-minute watermark, so it still counts;
* malformed lines: truncated JSON, which the parser drops.

Because a retry repeats its voter's candidate, which copy dedup keeps never
changes a tally.  The expected per-candidate totals and the expected running
total after each file are therefore exact and independent of arrival order.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field

CANDIDATES = [
    ("cand-0", "Alex Stone", "Management_Party"),
    ("cand-1", "Blair Rivers", "Savior_Party"),
    ("cand-2", "Casey Fields", "Tech_Republic_Party"),
]
STATES = ["Alabama", "Colorado", "Georgia", "Kansas", "Montana", "Nevada", "Ohio", "Texas"]
RETRY_SHARE = 0.05
LATE_SHARE = 0.02
MALFORMED_SHARE = 0.01
EPOCH = dt.datetime(2024, 11, 5, 8, 0, 0)


@dataclass
class VoteFile:
    lines: list[str]
    cum_first_votes: int  # expected running total once this file is tallied
    cum_expected: dict[str, int]  # expected per-candidate totals at that point


@dataclass
class VoteStream:
    """Deterministic vote stream; ``file(n_events)`` yields the next file."""

    seed: int
    events_per_s: float
    rng: random.Random = field(init=False)
    emitted: int = 0
    voters: list[tuple[str, int]] = field(default_factory=list)
    expected: dict[str, int] = field(default_factory=dict)
    total: int = 0

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        self.expected = {c[0]: 0 for c in CANDIDATES}

    def _event(self, voter_id: str, cand: int, at: dt.datetime) -> str:
        k = int(voter_id.rsplit("-", 1)[1])
        cid, cname, party = CANDIDATES[cand]
        return json.dumps(
            {
                "voter_id": voter_id,
                "voting_time": at.strftime("%Y-%m-%d %H:%M:%S"),
                "voter_name": f"Voter {k}",
                "party_affiliation": party,
                "biography": "A brief bio of the candidate.",
                "campaign_platform": "Key campaign promises here.",
                "photo_url": f"https://example.invalid/photo/{cid}",
                "candidate_id": cid,
                "candidate_name": cname,
                "date_of_birth": f"{1940 + k % 60}-06-15T00:00:00.000Z",
                "gender": "female" if k % 2 else "male",
                "nationality": "US",
                "registration_number": f"reg-{k:08d}",
                "address": {
                    "street": f"{100 + k % 9000} Main St",
                    "city": f"City{k % 50}",
                    "state": STATES[k % len(STATES)],
                    "country": "United States",
                    "postcode": f"{k % 100000:05d}",
                },
                "email": f"voter{k}@example.invalid",
                "phone_number": "555-0100",
                "cell_number": "555-0199",
                "picture": f"https://example.invalid/pic/{k}",
                "registered_age": 18 + k % 73,
                "vote": 1,
            },
            separators=(",", ":"),
        )

    def file(self, n_events: int) -> VoteFile:
        rng = self.rng
        lines: list[str] = []
        first = 0  # distinct voters this file adds to the tally
        for _ in range(n_events):
            now = EPOCH + dt.timedelta(seconds=self.emitted / self.events_per_s)
            self.emitted += 1
            u = rng.random()
            if u < MALFORMED_SHARE:
                # cut inside the first key: no field can be recovered from it
                lines.append(self._event(f"voter-{self.seed}-0", 0, now)[: rng.randrange(2, 14)])
            elif u < MALFORMED_SHARE + RETRY_SHARE and self.voters:
                voter, cand = self.voters[rng.randrange(len(self.voters))]
                lines.append(self._event(voter, cand, now))
            else:
                voter = f"voter-{self.seed}-{len(self.voters)}"
                cand = rng.randrange(len(CANDIDATES))
                at = now
                if rng.random() < LATE_SHARE:
                    at -= dt.timedelta(seconds=rng.randrange(60, 300))
                self.voters.append((voter, cand))
                self.expected[CANDIDATES[cand][0]] += 1
                lines.append(self._event(voter, cand, at))
                first += 1
        self.total += first
        return VoteFile(lines, self.total, dict(self.expected))
