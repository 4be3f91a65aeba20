"""Inline raw-API fixtures mirroring the shapes the reference consumes
(FIXTURES.md §1.3; raw shapes at /root/reference/private/workers/
meetup.rkt:39-59, facebook.rkt:35-55, eventbrite.rkt:51-85 and the
golden capture private/test_data/eventbrite.json).

These are *replay payloads* for the fixture-replay fetch mode — the
reference's own test strategy (eventbrite.rkt:123-146 runs convert-json
on a captured payload, no network). Synthetic content, real structure.
The eventbrite rows intentionally straddle a US DST boundary
(2018-03-11) so the IANA-zone offset path is exercised both sides.

`CHAPTERS` is the golden work-list that the three ingest queries fetch
(and `chapters.load_chapters` returns without a path); the `*_RAW`
tables are what `fetch.FixtureTransport` answers for each service id.
"""

CHAPTERS = [
    # chapter_id, title, adapter, service_id, organization
    ("newyork", "New York", "meetup", "papers-we-love", None),
    ("stlouis", "St. Louis", "facebook", "1776622612568197", None),
    ("london", "London", "eventbrite", "papers-we-love-london", "2417467656"),
    ("atlantis", "Atlantis", "carrierpigeon", "deep-six", None),  # unknown adapter
]

MEETUP_RAW = {
    "papers-we-love": [
        {
            "id": "zvbxrpl2",
            "link": "https://www.meetup.com/papers-we-love/events/zvbxrpl2/",
            "time": 1526425200000,
            "utc_offset": -14400000,
            "name": "PWL #50: Sketching Algorithms",
            "description": "Count-Min Sketch and friends.",
            "venue": {
                "name": "Two Sigma",
                "address_1": "100 Avenue of the Americas",
                "address_2": "Floor 16",
                "country": "us",
                "city": "New York",
                "zip": "10013",
                "lon": -74.005,
                "lat": 40.723,
            },
            "photo_album": {
                "photo_sample": [
                    {"photo_link": "https://photos.meetupstatic.com/p1.jpeg"},
                    {"photo_link": "https://photos.meetupstatic.com/p2.jpeg"},
                ]
            },
        },
        {
            # missing venue + photo_album: exercises default-on-miss
            # (hash.rkt:30-35 semantics)
            "id": "qxw9yzl3",
            "link": "https://www.meetup.com/papers-we-love/events/qxw9yzl3/",
            "time": 1529017200000,
            "utc_offset": -14400000,
            "name": "PWL #51: CRDTs",
            "description": None,
            "venue": None,
            "photo_album": None,
        },
    ]
}

FACEBOOK_RAW = {
    "1776622612568197": {
        "data": [
            {
                "id": "186112975332637",
                "name": "Papers We Love STL: Raft",
                "description": "We will read **In Search of an Understandable "
                "Consensus Algorithm**.\n\nBring questions!",
                "start_time": "2018-05-15T19:00:00-0500",
                "place": {
                    "name": "1904 Labs",
                    "location": {
                        "street": "4220 Duncan Ave",
                        "country": "United States",
                        "city": "St. Louis",
                        "zip": "63110",
                        "longitude": -90.245,
                        "latitude": 38.632,
                    },
                },
            },
            {
                "id": "201198900259786",
                "name": "Papers We Love STL: Paxos",
                "description": "Classic *Lamport*.",
                "start_time": "2018-06-19T19:00:00-0500",
                "place": None,
            },
        ]
    }
}

EVENTBRITE_RAW = {
    "2417467656": {
        "pagination": {
            "object_count": 3,
            "page_number": 1,
            "page_size": 50,
            "page_count": 1,
            "has_more_items": False,
        },
        "events": [
            {
                "id": "44544109937",
                "url": "https://www.eventbrite.co.uk/e/papers-we-love-london-44544109937",
                "name": {"text": "PWL London: Spanner", "html": "PWL London: Spanner"},
                "description": {
                    "text": "Globally-distributed database.",
                    "html": "<p>Globally-distributed database.</p>",
                },
                "start": {
                    "timezone": "Europe/London",
                    "local": "2018-03-08T18:30:00",  # before DST (GMT, +0)
                    "utc": "2018-03-08T18:30:00Z",
                },
                "venue": {
                    "name": "Skills Matter",
                    "latitude": "51.5229",
                    "longitude": "-0.0886",
                    "address": {
                        "address_1": "10 South Place",
                        "address_2": None,
                        "city": "London",
                        "region": "",
                        "postal_code": "EC2M 7EB",
                        "country": "GB",
                        "latitude": "51.5229",
                        "longitude": "-0.0886",
                    },
                },
            },
            {
                "id": "44544109938",
                "url": "https://www.eventbrite.co.uk/e/papers-we-love-london-44544109938",
                "name": {"text": "PWL London: Calvin", "html": "PWL London: Calvin"},
                "description": {"text": None, "html": None},
                "start": {
                    "timezone": "Europe/London",
                    "local": "2018-04-12T18:30:00",  # after DST (BST, +1)
                    "utc": "2018-04-12T17:30:00Z",
                },
                "venue": None,
            },
            {
                "id": "44544109939",
                "url": "https://www.eventbrite.co.uk/e/papers-we-love-london-44544109939",
                "name": {"text": "PWL London: FLP", "html": "PWL London: FLP"},
                "description": {"text": "Impossibility result.", "html": "<p>.</p>"},
                "start": {
                    "timezone": "America/New_York",
                    "local": "2018-03-11T14:00:00",  # first day of US DST (-0400)
                    "utc": "2018-03-11T18:00:00Z",
                },
                "venue": {
                    "name": "Remote",
                    "latitude": "40.7",
                    "longitude": "-74.0",
                    "address": {
                        "address_1": None,
                        "address_2": None,
                        "city": "New York",
                        "region": "NY",
                        "postal_code": None,
                        "country": "US",
                        "latitude": "40.7",
                        "longitude": "-74.0",
                    },
                },
            },
        ],
    }
}
