from .inspect import (  # noqa: F401
    assert_broadcast_join,
    assert_no_python_in_plan,
    explain_str,
)
