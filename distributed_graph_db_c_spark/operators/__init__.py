from .traversal import bfs, dfs_preorder, degrees

__all__ = ["bfs", "dfs_preorder", "degrees"]
