from .catalog import (  # noqa: F401
    MEASURES,
    MEASURE_SETS,
    MeasureSpec,
    get_measure,
    parse_measures,
)
from .contingency import Matrix, evaluate  # noqa: F401
