"""ColumnProfile — the engine's per-column "catalog" artifact.

Mirrors the reference's three driver-side dicts (column_stats / column_types /
column_formats, Latanova_v1.py:634-636) as one typed artifact that can be
serialized to JSON (the profile is small by construction: scalars, a bounded
category list, and for text a d-dim mean vector + d x d covariance — never raw
rows or raw entry vectors, unlike Latanova_v1.py:223-224).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

# Logical types, exactly the reference's vocabulary (Latanova_v1.py:124-170).
BOOLEAN = "boolean"
EMAIL = "email"
PHONE = "phone"
INTEGER = "integer"
FLOAT = "float"
DATETIME = "datetime"
CATEGORICAL = "categorical"
TEXT = "text"
UNKNOWN = "unknown"

# Boolean vocabulary (Latanova_v1.py:135, 238-240).
BOOL_TRUE = ("true", "yes", "1", "y", "t")
BOOL_FALSE = ("false", "no", "0", "n", "f")
BOOL_VOCAB = BOOL_TRUE + BOOL_FALSE

# Boolean render spellings (Latanova_v1.py:96-103) in reference dict order —
# argmax ties resolve to the earliest key (Latanova_v1.py:118).
BOOL_FORMATS = ("true_false", "yes_no", "one_zero", "yn", "tf", "bool")

# (true, false) rendering per detected format (Latanova_v1.py:377-388) —
# the single source of truth for generation; detection counts the
# lowercased parse vocabulary (BOOL_VOCAB), rendering emits these exact
# spellings. "bool" renders native booleans, not strings.
BOOL_RENDER: dict[str, tuple[str, str]] = {
    "true_false": ("True", "False"),
    "yes_no": ("Yes", "No"),
    "one_zero": ("1", "0"),
    "yn": ("Y", "N"),
    "tf": ("T", "F"),
}

# Date render formats (Latanova_v1.py:286-291) → Spark datetime patterns.
DATE_FORMATS = {
    "YYYY-MM-DD": "yyyy-MM-dd",
    "MM/DD/YYYY": "MM/dd/yyyy",
    "DD-MM-YYYY": "dd-MM-yyyy",
}

# Reference threshold constants (Latanova_v1.py:124, 76, 84, 148, 164, 168).
UNIQUE_THRESHOLD = 0.3
NUMERIC_THRESHOLD = 0.9
EMAIL_PHONE_THRESHOLD = 0.7
INT_RATIO_THRESHOLD = 0.95
DATETIME_THRESHOLD = 0.8
MAX_CATEGORIES = 50


@dataclass
class ColumnProfile:
    """One column's inferred logical type, render format, and statistics."""

    name: str
    logical_type: str
    format: str | None = None  # boolean spelling / date format / email|phone
    stats: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> str:
        def _default(o: Any) -> Any:
            try:
                import numpy as np

                if isinstance(o, np.ndarray):
                    return o.tolist()
                if isinstance(o, np.generic):
                    return o.item()
            except ImportError:
                pass
            return str(o)

        return json.dumps(
            {
                "name": self.name,
                "logical_type": self.logical_type,
                "format": self.format,
                "stats": self.stats,
            },
            default=_default,
        )
