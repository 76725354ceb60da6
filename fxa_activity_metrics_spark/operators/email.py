"""Email-event import (import_email_events.py).

Identical pipeline shape to activity events but sampled by flow_id
(import_email_events.py:24) and with its own 8-column schema
(import_email_events.py:6-16). The generic typed-day projection in
operators.activity covers it; this module just pins the dataset
binding for clarity.
"""

from __future__ import annotations

EMAIL_COLUMNS = [
    "timestamp",
    "flow_id",
    "domain",
    "template",
    "type",
    "bounced",
    "complaint",
    "locale",
]
