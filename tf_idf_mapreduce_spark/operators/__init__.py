"""Composable DataFrame transforms; import each submodule by name."""
