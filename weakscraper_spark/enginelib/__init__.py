"""Pure-Python extraction core. No Spark imports allowed in this package
(it is shipped to executors via --py-files and imported inside Arrow
batch UDFs). Semantics follow the reference's template-matching model
as documented in SURVEY.md §3A (A1–A13); reference citations live in
each module's docstring.
"""

from .errors import (  # noqa: F401
    AttrsError,
    CompareError,
    ExcessNodeError,
    MarkupError,
    MissingNodeError,
    NodetypeError,
    NonAtomicChildError,
    TagError,
    TextError,
    TextExpectedError,
)
from .dom import parse_html, parse_template_html  # noqa: F401
from .spec import compile_template, spec_from_json, spec_to_json  # noqa: F401
from .match import extract, match_document  # noqa: F401
from .scraper import TemplateScraper  # noqa: F401
from .induce import induce_template, induce_template_robust  # noqa: F401
