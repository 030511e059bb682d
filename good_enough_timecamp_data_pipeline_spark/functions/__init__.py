from .formatting import (  # noqa: F401
    format_duration,
    format_duration_signed,
    format_hours,
    string_fallback,
    path_join,
)
from .dates import (  # noqa: F401
    parse_date_multi,
    date_range,
    month_batch_key,
)
from .ids import strip_prefix, add_prefix  # noqa: F401
from .json_utils import array_level  # noqa: F401
